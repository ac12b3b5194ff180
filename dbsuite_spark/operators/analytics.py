"""Behavioral / distribution analytics extensions beyond the 123-key
contract: batch sessionization, exact heavy-hitters, and an equi-width
numeric histogram.

Reference scope: clickstream-style session rollups and value-distribution
summaries are standard warehouse workloads the reference's SQL dialect
serves [PUBLIC, module-level; checkout empty — SURVEY §0].

Scale design (100 TB):
- ``win_sessionize`` is ONE shuffle on ``user_id``: both window passes
  (gap flag, running session counter) share the same (partition, order)
  spec so Catalyst plans a single exchange+sort, and the per-session
  rollup then partial-aggregates map-side. State per user is O(1) — this
  is the batch twin of ``stream_session_window`` and scales linearly in
  events.
- ``topk_frequent_items`` is the exact heavy-hitters path: map-side
  partial counts, one shuffle to final counts, then
  ``TakeOrderedAndProject`` (per-partition top-k, single merge of
  k·partitions rows — never a global sort).
- ``agg_histogram_numeric`` buckets with pure row-local arithmetic and
  hash-aggregates: one shuffle of (bucket → partial stats), output rows
  bounded by bucket count regardless of input size.

Determinism: gap timestamps compare in exact integer microseconds
(``unix_micros`` ≡ DuckDB ``epoch_us``); money sums go through
DECIMAL(18,6) (``exact.dsum``); every top-k tie-breaks on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import BIGCOUNT, DSUM, DSUM_WIDE, dsum, dsum_wide
from dbsuite_spark.registry import query
from dbsuite_spark.tables import fan_out, t

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
TOPK_ITEMS = 25
HIST_WIDTH = 25_000.0


@query(
    "win_sessionize",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id)
              <= {SESSION_GAP_US} THEN 0 ELSE 1 END AS new_s
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       {BIGCOUNT("*")} AS n_events,
       {DSUM("value")} AS total_value
FROM sess GROUP BY user_id, session_seq
""",
    category="E",
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a new session starts when a user is
    idle > 30 minutes. Classic two-window idiom — lag() marks session
    starts, a running sum numbers them — then a per-session rollup.
    Both windows share one (user_id; ts, event_id) spec → a single
    exchange+sort at any scale; the rollup partial-aggregates map-side."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap <= SESSION_GAP_US, F.lit(0)).otherwise(F.lit(1)).alias(
            "new_s"
        ),
    )
    sess = flagged.withColumn(
        "session_seq", F.sum("new_s").over(w).cast("bigint")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )


@query(
    "topk_frequent_items",
    oracle=f"""
SELECT l_partkey, {BIGCOUNT("*")} AS cnt
FROM lineitem GROUP BY l_partkey
ORDER BY cnt DESC, l_partkey LIMIT {TOPK_ITEMS}
""",
    category="F",
)
def topk_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: the 25 most frequent part keys. Partial counts
    map-side, one shuffle, then TakeOrderedAndProject (per-partition
    top-k + single k·P merge — no global sort). Ties at the boundary
    break on the key itself, so the result multiset is deterministic."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(TOPK_ITEMS)
    )


@query(
    "agg_histogram_numeric",
    oracle=f"""
SELECT CAST(FLOOR(o_totalprice / {HIST_WIDTH}) AS BIGINT) AS bucket,
       {BIGCOUNT("*")} AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders GROUP BY 1
""",
    category="D",
)
def agg_histogram_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram of order totals (bucket = floor(x/25k)):
    row-local bucketing + hash aggregation, output bounded by bucket
    count. MIN/MAX return raw fixture doubles (no arithmetic) and the
    bucket id is integer floor division — engine-exact on both sides."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(HIST_WIDTH))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "agg_grouping_id",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT)    AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT)  AS g_priority,
       {BIGCOUNT("*")} AS n,
       {DSUM("o_totalprice")} AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
    category="D",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicator columns over a rollup — how reports tell a
    real NULL group from a subtotal row (DB2 exposes the same GROUPING
    column function). Rollup plans as a single Expand + hash aggregation;
    the indicators are computed, not re-scanned."""
    o = t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice")).alias("total"),
    )


RESAMPLE_T0 = "2024-01-08 00:00:00"
RESAMPLE_T1 = "2024-01-15 00:00:00"


@query(
    "ts_resample_ffill",
    oracle=f"""
WITH buckets AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         {DSUM("value")} AS v
  FROM events
  WHERE ts >= TIMESTAMP '{RESAMPLE_T0}' AND ts < TIMESTAMP '{RESAMPLE_T1}'
  GROUP BY event_type, date_trunc('hour', ts)),
grid AS (
  SELECT et.event_type, g.hour_ts
  FROM (SELECT DISTINCT event_type FROM events) et,
       (SELECT unnest(generate_series(
           TIMESTAMP '{RESAMPLE_T0}',
           TIMESTAMP '{RESAMPLE_T1}' - INTERVAL 1 HOUR,
           INTERVAL 1 HOUR)) AS hour_ts) g)
SELECT grid.event_type, grid.hour_ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY grid.event_type ORDER BY grid.hour_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM grid LEFT JOIN buckets
  ON grid.event_type = buckets.event_type
 AND grid.hour_ts = buckets.hour_ts
""",
    category="E",
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: hourly buckets over one week per event
    type, densified to a complete grid (sequence + explode — no gaps even
    for silent hours) with forward-filled values (``last`` IGNORE NULLS
    over the time order). Hours before the first observation stay NULL.

    Scale: the bucket aggregation is one decimal-exact shuffle bounded by
    (types × hours); the grid is generated, not scanned (type-count ×
    168 rows); the forward-fill window partitions by type so state is one
    value per partition. At 100 TB the same plan holds with the grid's
    span parameterized — output is bounded by the grid, not the input."""
    e = t(spark, sf_dir, "events")
    t0 = F.lit(RESAMPLE_T0).cast("timestamp")
    t1 = F.lit(RESAMPLE_T1).cast("timestamp")
    buckets = (
        e.filter((F.col("ts") >= t0) & (F.col("ts") < t1))
        .groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
        )
        .agg(dsum(F.col("value")).alias("v"))
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(
                    F.sequence(
                        t0,
                        t1 - F.expr("INTERVAL 1 HOUR"),
                        F.expr("INTERVAL 1 HOUR"),
                    )
                ).alias("hour_ts")
            )
        )
    )
    w = (
        Window.partitionBy(grid.event_type)
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(buckets, ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            "hour_ts",
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


FUNNEL_HOP = "INTERVAL 6 HOUR"


@query(
    "events_funnel_conversion",
    oracle=f"""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.t1 AND e.ts <= v.t1 + {FUNNEL_HOP}
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t2 AND e.ts <= c.t2 + {FUNNEL_HOP}
  GROUP BY e.user_id)
SELECT 'step1_view' AS step, {BIGCOUNT("*")} AS users FROM v
UNION ALL SELECT 'step2_click', {BIGCOUNT("*")} FROM c
UNION ALL SELECT 'step3_purchase', {BIGCOUNT("*")} FROM p
""",
    category="E",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view → click → purchase, each hop within
    6 hours of the previous step's first occurrence): users reaching each
    step *in order* — the sequential-pattern query MATCH_RECOGNIZE-style
    engines run.

    Round-13 optimization (guide §2.3 'aggregate before you shuffle' /
    §2.4): the previous shape scanned events three times (one filtered
    scan per stage) and chained two joins on ``user_id``; all three
    stages depend only on the per-user timestamp multisets, so ONE
    filtered scan + ONE hash aggregation on ``user_id`` collects t1 =
    min(view ts) plus the click/purchase timestamp lists, and the hop
    logic (first click in (t1, t1+6h], first purchase in (t2, t2+6h])
    becomes row-local array arithmetic — array_min over a filtered
    collect_list, null-propagating exactly like the join+filter chain.
    Final counts are one global aggregate unpivoted with ``stack``.
    3 scans + 2 joins + 4 shuffles → 1 scan + 1 fact shuffle (measured
    interleaved same-session: min 1.64s → 0.73s at sf0.1;
    plans/r13/events_funnel_conversion_{before,after}.txt).

    Scale: the one shuffle carries (user_id, type, ts) for the three
    funnel types only; per-user collected lists are bounded by that
    user's click/purchase counts (small constants in any real funnel
    window — segment by time first if a bot user could be unbounded)."""
    # Round-14: keyed fan_out MEASURED AND REJECTED (1/6 interleaved,
    # median 0.34→0.37 s): the filtered scan is light enough that the
    # single fact shuffle's partial collect already wins.
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", "ts")
    hop = F.expr(FUNNEL_HOP)
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("t1"),
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("cs"),
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("ps"),
        )
        .withColumn(
            "t2",
            F.array_min(
                F.filter(
                    F.col("cs"),
                    lambda x: (x > F.col("t1")) & (x <= F.col("t1") + hop),
                )
            ),
        )
        .withColumn(
            "t3",
            F.array_min(
                F.filter(
                    F.col("ps"),
                    lambda x: (x > F.col("t2")) & (x <= F.col("t2") + hop),
                )
            ),
        )
    )
    counts = per_user.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
    )
    return counts.selectExpr(
        "stack(3, 'step1_view', c1, 'step2_click', c2,"
        " 'step3_purchase', c3) AS (step, users)"
    )


EWMA_ALPHA = 0.3


@query(
    "ts_ewma",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type,
         list(hour_ts ORDER BY hour_ts) AS hours,
         list(v ORDER BY hour_ts) AS vals
  FROM b GROUP BY event_type)
SELECT event_type, hours[i] AS hour_ts, vals[i] AS v,
       list_reduce(vals[1:i],
                   (acc, x) -> CAST({EWMA_ALPHA} AS DOUBLE) * x
                               + CAST({1 - EWMA_ALPHA} AS DOUBLE) * acc)
           AS ewma
FROM l, unnest(generate_series(1, len(vals))) t(i)
""",
    category="E",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over each type's hourly
    series — the recursive smoother (ewma_t = α·v_t + (1−α)·ewma_{t−1},
    seeded with the first value) that plain window frames cannot express.
    Evaluated as a prefix fold over the hour-ordered value list, the same
    sequential order on both engines (DuckDB ``list_reduce(vals[1:i])`` ≡
    Spark ``aggregate(slice(vals, 2, i−1), vals[1], …)``), so every
    prefix value is bit-identical — same discipline as
    ``pipeline/clustering.py``.

    Scale: series are bounded (≤744 hourly points per type-month), so the
    per-group list and the O(n²) prefix folds are small constants; the
    bucket aggregation below them is the usual decimal-exact single
    shuffle. For unbounded series you'd segment by month first."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    lst = b.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour_ts", "v"))).alias("pairs")
    )
    # A named column read more than once: CollapseProject keeps it out of
    # the prefix-fold lambda, so it is built once per row, not per prefix.
    lst = lst.withColumn("vals", F.transform(F.col("pairs"), lambda x: x["v"]))
    vals = F.col("vals")
    a, na = F.lit(EWMA_ALPHA), F.lit(1 - EWMA_ALPHA)
    zipped = F.arrays_zip(
        F.transform(F.col("pairs"), lambda x: x["hour_ts"]).alias("h"),
        vals.alias("val"),
        F.transform(
            F.sequence(F.lit(1), F.size(vals)),
            lambda i: F.aggregate(
                F.slice(vals, F.lit(2), i - 1),
                F.element_at(vals, 1),
                lambda acc, x: a * x + na * acc,
            ),
        ).alias("ew"),
    )
    return (
        lst.select("event_type", F.explode(zipped).alias("z"))
        .select(
            "event_type",
            F.col("z.h").alias("hour_ts"),
            F.col("z.val").alias("v"),
            F.col("z.ew").alias("ewma"),
        )
    )


HOLT_ALPHA = 0.5  # level smoothing (power of two: products stay exact-ish)
HOLT_BETA = 0.25  # trend smoothing


@query(
    "ts_holt_linear",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type,
         list(hour_ts ORDER BY hour_ts) AS hours,
         list(v ORDER BY hour_ts) AS vals
  FROM b GROUP BY event_type),
st AS (
  -- state is a 2-list [level, trend], NOT a struct: DuckDB 1.0's
  -- list_reduce mis-evaluates repeated struct-field lambdas (observed:
  -- acc.l read as 0 inside the second field on some folds), while the
  -- list form computes the textbook recursion exactly
  SELECT event_type, hours, vals, i,
         list_reduce(
           [[vals[1], vals[2] - vals[1]]] ||
             list_transform(vals[2:i], x -> [x, 0.0]),
           (acc, x) -> [
             {HOLT_ALPHA} * x[1]
               + {1 - HOLT_ALPHA} * (acc[1] + acc[2]),
             {HOLT_BETA} * (({HOLT_ALPHA} * x[1]
                 + {1 - HOLT_ALPHA} * (acc[1] + acc[2])) - acc[1])
               + {1 - HOLT_BETA} * acc[2]]) AS s
  FROM l, unnest(generate_series(2, len(vals))) t(i)
  WHERE len(vals) >= 2)
SELECT event_type, hours[i] AS hour_ts, vals[i] AS v,
       s[1] AS level,
       s[2] AS trend,
       s[1] + s[2] AS forecast
FROM st
""",
    category="E",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing over each type's
    hourly series — the level+trend coupled recursion (l_t = α·x_t +
    (1−α)(l_{t−1}+b_{t−1}); b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, seeded
    l_1=x_1, b_1=x_2−x_1) that extends ``ts_ewma`` with a trend state,
    plus the one-step forecast l_t+b_t. Like the EWMA, the recursion is
    evaluated as a prefix fold — here with a two-field accumulator
    (level, trend) — in the identical left-to-right order on both
    engines (Spark ``aggregate`` with a struct zero ≡ DuckDB
    ``list_reduce`` over an init-prefixed list; the oracle's accumulator
    is a 2-list because DuckDB 1.0 mis-evaluates repeated struct-field
    lambdas), and both sides spell out the same expression tree (new_l
    appears inline inside new_b), so every state is bit-identical with
    no tolerance.

    Scale: same envelope as ``ts_ewma`` — series are bounded per
    type-month (≤744 points), so per-group lists and the O(n²) prefix
    folds are small constants over one decimal-exact bucket shuffle;
    unbounded series would segment by month first."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    lst = (
        b.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("hour_ts", "v"))
            ).alias("pairs")
        )
        .filter(F.size("pairs") >= 2)
    )
    # Projected once, as in ts_ewma: read more than once, so it stays out
    # of the prefix-fold lambda.
    lst = lst.withColumn("vals", F.transform(F.col("pairs"), lambda x: x["v"]))
    vals = F.col("vals")
    hours = F.transform(F.col("pairs"), lambda x: x["hour_ts"])
    a, na = F.lit(HOLT_ALPHA), F.lit(1 - HOLT_ALPHA)
    bt, nb = F.lit(HOLT_BETA), F.lit(1 - HOLT_BETA)
    init = F.struct(
        F.element_at(vals, 1).alias("l"),
        (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
    )

    def step(acc, x):  # same expression tree as the oracle lambda
        new_l = a * x + na * (acc["l"] + acc["b"])
        new_b = bt * ((a * x + na * (acc["l"] + acc["b"])) - acc["l"]) + nb * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    n = F.size(vals)
    states = F.transform(
        F.sequence(F.lit(2), n),
        lambda i: F.aggregate(F.slice(vals, F.lit(2), i - 1), init, step),
    )
    zipped = F.arrays_zip(
        F.slice(hours, 2, n - 1).alias("h"),
        F.slice(vals, 2, n - 1).alias("val"),
        states.alias("st"),
    )
    return (
        lst.select("event_type", F.explode(zipped).alias("z"))
        .select(
            "event_type",
            F.col("z.h").alias("hour_ts"),
            F.col("z.val").alias("v"),
            F.col("z.st.l").alias("level"),
            F.col("z.st.b").alias("trend"),
            (F.col("z.st.l") + F.col("z.st.b")).alias("forecast"),
        )
    )


ACF_MAX_LAG = 24  # autocorrelogram depth: one diurnal cycle of hours


@query(
    "ts_autocorrelation",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type, list(v ORDER BY hour_ts) AS vals
  FROM b GROUP BY event_type),
m AS (
  SELECT event_type, vals, len(vals) AS n,
         list_reduce(vals, (a, x) -> a + x) / len(vals) AS mu
  FROM l WHERE len(vals) > {ACF_MAX_LAG}),
d AS (
  SELECT event_type, vals, n, mu,
         list_reduce(list_transform(vals, x -> (x - mu) * (x - mu)),
                     (a, x) -> a + x) AS den
  FROM m)
SELECT event_type, CAST(n AS BIGINT) AS n, lag,
       list_reduce(
         list_transform(generate_series(1, CAST(n AS BIGINT) - lag),
                        i -> (vals[i] - mu) * (vals[CAST(i + lag AS BIGINT)] - mu)),
         (a, x) -> a + x) / den AS acf
FROM d, unnest(generate_series(1, {ACF_MAX_LAG})) t(lag)
""",
    category="E",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelogram: ACF at lags 1..24 h for each type's hourly
    series — the seasonality detector (a diurnal cycle shows as a peak
    at lag 24). Mean, denominator, and every lagged product sum are
    sequential left-to-right folds over the hour-ordered value list with
    the FIRST element as the fold seed on both engines (no 0.0 init, so
    the op sequences are textually identical and every double matches
    bit-for-bit — the ``ts_ewma`` discipline, scalar accumulator only,
    which also sidesteps the DuckDB struct-lambda fold bug noted at
    ``ts_holt_linear``).

    Scale: series are bounded per type-month (≤744 points), so the
    per-type O(lag·n) fold work is a small constant on top of the one
    decimal-exact bucket shuffle; unbounded series would window by
    month first."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    lst = b.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour_ts", "v"))).alias("pairs")
    )
    vals = F.transform(F.col("pairs"), lambda x: x["v"])

    def fold_sum(arr):  # first-element seed, sequential adds — both engines
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, x: a + x,
        )

    n = F.size(vals)
    base = lst.filter(n > ACF_MAX_LAG).select(
        "event_type",
        vals.alias("vals"),
        n.alias("n"),
        (fold_sum(vals) / n).alias("mu"),
    )
    dev2 = F.transform(
        F.col("vals"), lambda x: (x - F.col("mu")) * (x - F.col("mu"))
    )
    d = base.select(
        "event_type", "vals", "n", "mu", fold_sum(dev2).alias("den")
    )
    lags = d.select(
        "event_type",
        "vals",
        "n",
        "mu",
        "den",
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
    )
    prods = F.transform(
        F.sequence(F.lit(1), F.col("n").cast("long") - F.col("lag")),
        lambda i: (F.element_at(F.col("vals"), i.cast("int")) - F.col("mu"))
        * (
            F.element_at(
                F.col("vals"), (i + F.col("lag")).cast("int")
            )
            - F.col("mu")
        ),
    )
    return lags.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "lag",
        (fold_sum(prods) / F.col("den")).alias("acf"),
    )


MEDIAN_FRAME = 24  # sliding frame width in hours


@query(
    "win_sliding_median",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
framed AS (
  SELECT event_type, hour_ts, v,
         list_sort(list(v) OVER (
             PARTITION BY event_type ORDER BY hour_ts
             ROWS BETWEEN {MEDIAN_FRAME - 1} PRECEDING AND CURRENT ROW))
           AS fr
  FROM b)
SELECT event_type, hour_ts, v,
       CASE WHEN len(fr) % 2 = 1 THEN fr[(len(fr) + 1) // 2]
            ELSE (fr[len(fr) // 2] + fr[len(fr) // 2 + 1]) / 2.0
       END AS med24
FROM framed
""",
    category="E",
)
def win_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median over a 24-hour sliding frame per event type — the
    moving-median smoother rank functions cannot express (PERCENTILE_CONT
    isn't a windowed aggregate in either engine). The frame's values are
    collected per row (bounded: ≤24 doubles), sorted, and the middle
    element (odd) or mean of the middle two (even) extracted — identical
    double ops on both engines, so the series hash-matches exactly.

    Scale: one shuffle for the hourly buckets, one window pass with O(24)
    state per row; frame width is a constant, so memory per partition is
    flat no matter the series length."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-(MEDIAN_FRAME - 1), Window.currentRow)
    )
    fr = F.array_sort(F.collect_list("v").over(w))
    n = F.size(fr)
    med = F.when(
        n % 2 == 1, F.element_at(fr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(fr, (n / 2).cast("int"))
            + F.element_at(fr, (n / 2 + 1).cast("int"))
        )
        / 2.0
    )
    return b.select(
        "event_type", "hour_ts", "v", med.alias("med24")
    )


@query(
    "win_streak_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events),
grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS island
  FROM days),
streaks AS (
  SELECT user_id, MIN(d) AS streak_start,
         CAST(COUNT(*) AS BIGINT) AS streak_days
  FROM grp GROUP BY user_id, island)
SELECT user_id, streak_start, streak_days FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id
      ORDER BY streak_days DESC, streak_start) AS rn
  FROM streaks) WHERE rn = 1
""",
    category="E",
)
def win_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days (earliest such run on ties) — the classic pattern where
    ``date − row_number()`` is constant within an island, so one window
    pass turns consecutive dates into a grouping key. Complements
    ``win_sessionize`` (which detects gaps by time delta): islands are
    the integer-sequence dual.

    Scale: one distinct pass (map-side partial), one window + one
    aggregation sharing the user_id shuffle, and a rank-1 window over
    per-user streaks (rows bounded by active days). No joins, no
    cartesian."""
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "island", F.date_sub("d", F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.min("d").alias("streak_start"),
        F.count("*").alias("streak_days"),
    )
    w_top = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_start", "streak_days")
    )


SEQ_PATTERN = "view,click,purchase"  # the funnel as a contiguous run


@query(
    "events_pattern_regex",
    oracle=f"""
WITH seqs AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         string_agg(event_type, ',' ORDER BY ts, event_type) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(seq, '{SEQ_PATTERN}')) AS BIGINT)
         AS n_matches,
       CAST(strpos(seq, '{SEQ_PATTERN}') AS BIGINT) AS first_pos
FROM seqs
WHERE len(regexp_extract_all(seq, '{SEQ_PATTERN}')) > 0
""",
    category="E",
)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-sequence pattern matching — the MATCH_RECOGNIZE analog Spark
    lacks as a native operator: per user, the time-ordered event-type
    sequence is folded to a delimited string and a *contiguous* pattern
    (view → click → purchase with nothing in between — stricter than
    ``events_funnel_conversion``'s 6-hour-hop MIN chain) is counted with
    ordinary regex machinery. Both engines scan left-to-right
    non-overlapping, and the event-type alphabet is comma-free, so match
    counts and the first match position agree exactly.

    Scale: one shuffle on user_id; the per-user string is bounded by that
    user's activity (fixture max 86 events — for unbounded histories,
    sessionize first with ``win_sessionize`` and match within sessions,
    same plan one level down). The ordered fold uses array_sort over
    (ts, type) structs — deterministic because (user, ts) is unique,
    pinned by the fixture canary."""
    e = t(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
        ).alias("seq"),
    )
    n_matches = F.size(
        F.expr(f"regexp_extract_all(seq, '{SEQ_PATTERN}', 0)")
    ).cast("bigint")
    return (
        seqs.select(
            "user_id",
            "n_events",
            n_matches.alias("n_matches"),
            F.instr(F.col("seq"), SEQ_PATTERN).cast("bigint")
            .alias("first_pos"),
        )
        .filter(F.col("n_matches") > 0)
    )


_WEEK_US = 7 * 86_400 * 1_000_000


@query(
    "events_retention_cohort",
    oracle=f"""
WITH firstseen AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
act AS (
  SELECT DISTINCT e.user_id,
         CAST(date_trunc('week', f.t0) AS TIMESTAMP) AS cohort_week,
         (epoch_us(date_trunc('day', e.ts))
          - epoch_us(date_trunc('day', f.t0))) // {_WEEK_US} AS week_offset
  FROM events e JOIN firstseen f ON e.user_id = f.user_id)
SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act GROUP BY cohort_week, week_offset
""",
    category="E",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    once per (cohort, whole-week offset) they were active in — the
    product-analytics staple behind every retention curve. Week offsets
    are exact integer arithmetic on epoch microseconds (floor division of
    non-negative day deltas — identical on both engines); the cohort key
    is Monday-anchored ``date_trunc('week')`` on both.

    Scale: one shuffle for first-seen (map-side MIN), one join of events
    against the per-user cohort (both hash-partitioned on user_id — a
    single co-partitioned exchange), then a distinct + count over a
    matrix bounded by cohorts × offsets, not by events."""
    e = t(spark, sf_dir, "events")
    firstseen = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    act = (
        e.join(firstseen, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("t0")).alias("cohort_week"),
            (
                (
                    F.unix_micros(F.date_trunc("day", F.col("ts")))
                    - F.unix_micros(F.date_trunc("day", F.col("t0")))
                )
                / F.lit(_WEEK_US)
            ).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )


@query(
    "events_cohort_ltv",
    oracle=f"""
WITH firstbuy AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'purchase' GROUP BY user_id),
cells AS (
  SELECT CAST(date_trunc('week', f.t0) AS TIMESTAMP) AS cohort_week,
         (epoch_us(date_trunc('day', e.ts))
          - epoch_us(date_trunc('day', f.t0))) // {_WEEK_US} AS week_offset,
         {DSUM("e.value")} AS revenue,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_buyers
  FROM events e JOIN firstbuy f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2)
SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
       revenue, n_buyers,
       CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
           PARTITION BY cohort_week ORDER BY week_offset
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
FROM cells
""",
    category="E",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle — the revenue companion to
    ``events_retention_cohort``: purchase revenue per (first-purchase
    week, whole-week offset) cell plus the running cumulative LTV down
    each cohort row. Cell revenue is the decimal-exact DSUM; the
    cumulative is a DECIMAL(18,6) window sum (exact, associative — safe
    against DuckDB's non-sequential segment-tree double windows, the
    same hazard ``ts_changepoint_cusum`` documents), cast to double only
    at the edge.

    Scale: first-purchase is one map-side MIN shuffle; the fact joins it
    co-partitioned on user_id; the triangle and its running sums live on
    a (cohorts × offsets)-bounded table."""
    e = t(spark, sf_dir, "events")
    buys = e.filter(F.col("event_type") == "purchase")
    firstbuy = buys.groupBy("user_id").agg(F.min("ts").alias("t0"))
    cells = (
        buys.join(firstbuy, "user_id")
        .groupBy(
            F.date_trunc("week", F.col("t0")).alias("cohort_week"),
            F.expr(
                "(unix_micros(date_trunc('day', ts))"
                f" - unix_micros(date_trunc('day', t0))) div {_WEEK_US}"
            ).alias("week_offset"),
        )
        .agg(
            dsum(F.col("value")).alias("revenue"),
            F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        "cohort_week",
        "week_offset",
        "revenue",
        "n_buyers",
        F.sum(F.col("revenue").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("cum_revenue"),
    )


@query(
    "ts_interpolate_linear",
    oracle=f"""
WITH buckets AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         {DSUM("value")} AS v
  FROM events
  WHERE ts >= TIMESTAMP '{RESAMPLE_T0}' AND ts < TIMESTAMP '{RESAMPLE_T1}'
  GROUP BY event_type, date_trunc('hour', ts)),
grid AS (
  SELECT et.event_type, g.hour_ts
  FROM (SELECT DISTINCT event_type FROM events) et,
       (SELECT unnest(generate_series(
           TIMESTAMP '{RESAMPLE_T0}',
           TIMESTAMP '{RESAMPLE_T1}' - INTERVAL 1 HOUR,
           INTERVAL 1 HOUR)) AS hour_ts) g),
j AS (
  SELECT grid.event_type, grid.hour_ts, buckets.v
  FROM grid LEFT JOIN buckets
    ON grid.event_type = buckets.event_type
   AND grid.hour_ts = buckets.hour_ts),
ctx AS (
  SELECT event_type, hour_ts, v,
         last_value(v IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
           OVER wb AS ph,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
           OVER wf AS nh
  FROM j
  WINDOW wb AS (PARTITION BY event_type ORDER BY hour_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY hour_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, hour_ts, v,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              round(pv + (nv - pv)
                    * (CAST(epoch_us(hour_ts) - epoch_us(ph) AS DOUBLE)
                       / CAST(epoch_us(nh) - epoch_us(ph) AS DOUBLE)), 6)
            ELSE NULL END AS v_interp,
       (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS interpolated
FROM ctx
""",
    category="E",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap interpolation — the forward-fill's sibling: silent hours on the
    dense grid get the LINEAR blend of the nearest observed values on
    either side (pv + (nv−pv)·frac over exact integer-microsecond hour
    distances); hours outside the observed range stay NULL, and the
    ``interpolated`` flag marks synthesized points. The blend is one
    double expression with a pinned op order and a 6-dp round, so both
    engines produce the identical value.

    Scale: same plan as ``ts_resample_ffill`` plus one extra window pass
    in the opposite frame direction — two (type-partitioned) window
    sorts over a generated grid bounded by types × hours, never by
    events."""
    e = t(spark, sf_dir, "events")
    t0 = F.lit(RESAMPLE_T0).cast("timestamp")
    t1 = F.lit(RESAMPLE_T1).cast("timestamp")
    buckets = (
        e.filter((F.col("ts") >= t0) & (F.col("ts") < t1))
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(dsum(F.col("value")).alias("v"))
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(
                    F.sequence(
                        t0,
                        t1 - F.expr("INTERVAL 1 HOUR"),
                        F.expr("INTERVAL 1 HOUR"),
                    )
                ).alias("hour_ts")
            )
        )
    )
    j = grid.join(buckets, ["event_type", "hour_ts"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour_ts"))
    ctx = j.select(
        "event_type",
        "hour_ts",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("nh"),
    )
    frac = (
        (F.unix_micros("hour_ts") - F.unix_micros("ph")).cast("double")
        / (F.unix_micros("nh") - F.unix_micros("ph")).cast("double")
    )
    v_interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.round(
                F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6
            ),
        )
    )
    return ctx.select(
        "event_type",
        "hour_ts",
        "v",
        v_interp.alias("v_interp"),
        (
            F.col("v").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        ).alias("interpolated"),
    )


DAU_FRAME = 24  # trailing window width in hourly buckets


@query(
    "win_sliding_distinct_users",
    oracle=f"""
WITH b AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         list_distinct(list(user_id)) AS uset,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2)
SELECT event_type, hour_ts, n_events,
       CAST(len(list_distinct(flatten(list(uset) OVER (
           PARTITION BY event_type ORDER BY hour_ts
           ROWS BETWEEN {DAU_FRAME - 1} PRECEDING AND CURRENT ROW))))
         AS BIGINT) AS du24
FROM b
""",
    category="E",
)
def win_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct-user count (24-hour trailing window per event
    type) — the DAU-style metric windowed COUNT(DISTINCT) can't express
    in either engine. Per-hour user sets are pre-aggregated once (the
    cardinality reducer), then the frame flattens ≤24 small sets and
    takes the distinct size — set algebra, so per-hour set order never
    matters and the count is exact.

    Scale: the bucket aggregation shuffles once on (type, hour) with
    map-side combine; window state is ≤24 hourly sets whose size is
    bounded by the hour's active users — for genuinely unbounded hourly
    cardinality you'd swap the exact sets for mergeable HLL sketches
    (``agg_hll_sketch_merge`` is that substrate) at the cost of
    exactness."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.collect_set("user_id").alias("uset"),
        F.count("*").alias("n_events"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-(DAU_FRAME - 1), Window.currentRow)
    )
    return b.select(
        "event_type",
        "hour_ts",
        "n_events",
        F.size(
            F.array_distinct(F.flatten(F.collect_list("uset").over(w)))
        ).cast("bigint").alias("du24"),
    )


ZSCORE_SIGMA = 3.0  # flag hours beyond 3 standard deviations


@query(
    "events_anomaly_zscore",
    oracle=f"""
WITH b AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type,
         {DSUM("v")} / COUNT(*) AS mu,
         sqrt({DSUM_WIDE("v * v")} / COUNT(*)
              - ({DSUM("v")} / COUNT(*)) * ({DSUM("v")} / COUNT(*)))
           AS sigma
  FROM b GROUP BY event_type)
SELECT b.event_type, b.hour_ts, b.v,
       round((b.v - s.mu) / s.sigma, 6) AS zscore
FROM b JOIN stats s ON b.event_type = s.event_type
WHERE abs(b.v - s.mu) > {ZSCORE_SIGMA} * s.sigma
""",
    category="E",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series anomaly flagging: hourly buckets whose value sits more than
    3 population standard deviations from the per-type mean — the
    monitoring/alerting staple. Mean and variance come from exact decimal
    sums (Σv and Σv² in DECIMAL(38,12), so the moments commute across
    partitionings), combined into doubles with one pinned op order; the
    reported z-score is rounded to 6 dp.

    Scale: two aggregations over the bucket table (itself one shuffle of
    events) and a broadcast-able per-type stats join — the two-pass exact
    formulation; a one-pass Welford variant trades the second pass for
    non-commutative state and cross-engine drift, the wrong trade when
    the bucket table is already tiny relative to the corpus."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    mu = dsum(F.col("v")) / F.count("*")
    stats = b.groupBy("event_type").agg(
        mu.alias("mu"),
        F.sqrt(
            dsum_wide(F.col("v") * F.col("v")) / F.count("*") - mu * mu
        ).alias("sigma"),
    )
    return (
        b.join(F.broadcast(stats), "event_type")
        .filter(
            F.abs(F.col("v") - F.col("mu"))
            > ZSCORE_SIGMA * F.col("sigma")
        )
        .select(
            "event_type",
            "hour_ts",
            "v",
            F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 6)
            .alias("zscore"),
        )
    )


@query(
    "events_markov_transitions",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM pairs
""",
    category="E",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: within each
    user's time-ordered stream, (previous → next) event-type pairs are
    counted and row-normalized into transition probabilities — the
    substrate for next-action prediction, anomaly scoring, and the
    funnel keys' priors. The lag ordering tie-breaks on event_id so it
    stays deterministic even if a regenerated fixture introduces (user,
    ts) collisions; probabilities are one double division of exact
    integer counts, rounded to 6 dp.

    Scale: one shuffle on user_id for the lag window, a matrix
    aggregation bounded by |alphabet|², and the normalizing window runs
    over that tiny matrix — per-user state in the window pass is O(1)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    w_norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_norm), 6
        ).alias("p"),
    )


HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
WEEK_US = 7 * DAY_US
MONDAY_OFFSET_US = 4 * DAY_US  # 1970-01-05 (first Monday) in epoch-us


@query(
    "ts_rollup_multi_grain",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS hour_us,
         epoch_us(ts) - epoch_us(ts) % {DAY_US} AS day_us,
         (epoch_us(ts) - {MONDAY_OFFSET_US})
           - (epoch_us(ts) - {MONDAY_OFFSET_US}) % {WEEK_US}
           + {MONDAY_OFFSET_US} AS week_us,
         value
  FROM events)
SELECT event_type,
       CASE WHEN GROUPING(day_us) = 0 AND GROUPING(hour_us) = 1
              THEN 'day'
            WHEN GROUPING(week_us) = 0 THEN 'week'
            ELSE 'hour' END AS grain,
       CAST(COALESCE(hour_us, day_us, week_us) AS BIGINT) AS bucket_us,
       {BIGCOUNT()} AS n_events,
       {DSUM('value')} AS sum_value
FROM b
GROUP BY GROUPING SETS ((event_type, hour_us), (event_type, day_us),
                        (event_type, week_us))
""",
    category="E",
)
def ts_rollup_multi_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass over the
    event stream producing hourly, daily, AND weekly per-type buckets
    via GROUPING SETS — the materialization a time-series store keeps
    per hypertable so dashboards never re-scan raw data. Buckets are
    exact epoch-microsecond integer arithmetic (week aligned to Monday
    via the 1970-01-05 offset), identical in both engines by
    construction — no engine date-truncation semantics involved.

    Scale: GROUPING SETS plans one scan + Expand(3) + a single
    partial+final hash aggregation — strictly cheaper than three
    scans; measure sums are exact DECIMAL partials, so map-side combine
    is bit-safe. Output is bounded by buckets × types, not events."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    b = e.select(
        "event_type",
        (us - us % HOUR_US).alias("hour_us"),
        (us - us % DAY_US).alias("day_us"),
        (
            (us - MONDAY_OFFSET_US)
            - (us - MONDAY_OFFSET_US) % WEEK_US
            + MONDAY_OFFSET_US
        ).alias("week_us"),
        "value",
    )
    g = b.groupingSets(
        [
            ["event_type", "hour_us"],
            ["event_type", "day_us"],
            ["event_type", "week_us"],
        ],
        "event_type",
        "hour_us",
        "day_us",
        "week_us",
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
        F.grouping("hour_us").alias("g_h"),
        F.grouping("day_us").alias("g_d"),
        F.grouping("week_us").alias("g_w"),
    )
    grain = (
        F.when((F.col("g_d") == 0) & (F.col("g_h") == 1), "day")
        .when(F.col("g_w") == 0, "week")
        .otherwise("hour")
    )
    return g.select(
        "event_type",
        grain.alias("grain"),
        F.coalesce("hour_us", "day_us", "week_us")
        .cast("bigint")
        .alias("bucket_us"),
        "n_events",
        "sum_value",
    )


_SEN_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type, (b2.v - a.v) / (b2.h - a.h) AS slope
  FROM b a JOIN b b2
    ON a.event_type = b2.event_type AND a.h < b2.h),
sen AS (
  SELECT event_type, ROUND(quantile_cont(slope, 0.5), 6) AS sen_slope,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY event_type),
icept AS (
  SELECT b.event_type,
         ROUND(quantile_cont(b.v - s.sen_slope * b.h, 0.5), 6)
           AS intercept,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM b JOIN sen s ON b.event_type = s.event_type
  GROUP BY b.event_type)
SELECT s.event_type, i.n_points, s.n_pairs, s.sen_slope, i.intercept
FROM sen s JOIN icept i ON s.event_type = i.event_type
"""


@query("ts_theil_sen_trend", oracle=_SEN_ORACLE, category="E")
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per hourly series: the slope is the MEDIAN
    of all pairwise slopes (up to ~29% outlier breakdown vs OLS's zero),
    the intercept the median residual at that slope. Hour indices are
    exact integers (epoch-μs floor-divided to hours), each pairwise
    slope is one identical IEEE division on both engines, and both
    medians are the pinned ``quantile_cont`` interpolation rounded to
    6 dp (the ``agg_percentile_exact`` discipline). Completes the trend
    toolkit: OLS (``agg_regr``), smoothing (``ts_holt_linear``),
    level shift (``ts_changepoint_cusum``), seasonality
    (``ts_autocorrelation``).

    Scale: the O(n²) pair join is per-series and series are bounded per
    type-month (≤744 points → ≤276k pairs), co-partitioned on the type
    key; for unbounded series the documented estimator is repeated-median
    over bounded windows or a deterministic pair sample."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('hour', ts)) div 3600000000"
        ).alias("h"),
    ).agg(dsum(F.col("value")).alias("v"))
    a, b2 = b.alias("a"), b.alias("b2")
    pairs = a.join(
        b2,
        (F.col("a.event_type") == F.col("b2.event_type"))
        & (F.col("a.h") < F.col("b2.h")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b2.v") - F.col("a.v")) / (F.col("b2.h") - F.col("a.h"))
        ).alias("slope"),
    )
    sen = pairs.groupBy("event_type").agg(
        F.round(F.percentile("slope", F.lit(0.5)), 6).alias("sen_slope"),
        F.count("*").cast("bigint").alias("n_pairs"),
    )
    icept = (
        b.join(F.broadcast(sen), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(
                    F.col("v") - F.col("sen_slope") * F.col("h"), F.lit(0.5)
                ),
                6,
            ).alias("intercept"),
            F.count("*").cast("bigint").alias("n_points"),
        )
    )
    return sen.join(icept, "event_type").select(
        "event_type", "n_points", "n_pairs", "sen_slope", "intercept"
    )


_MK_S = 1_000_000_000_000  # stationary mass units (10^12)
_MK_P = 1_000_000  # transition-probability units (10^6)
# products stay ≤ 10^18 < 2^63: the two scales are chosen together


def _MK_PRELUDE() -> str:
    return f"""
ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type),
pm AS (
  SELECT prev_type, next_type,
         CAST((n * {_MK_P}) // SUM(n) OVER (PARTITION BY prev_type)
              AS BIGINT) AS pu
  FROM pairs),
states AS (SELECT DISTINCT prev_type AS state FROM pairs),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM states),
pi0 AS (SELECT state, CAST({_MK_S} AS BIGINT) // n AS mu FROM states, ns)
"""


def _MK_STEP(i: int) -> str:
    return f"""
pi{i} AS (
  SELECT m.next_type AS state,
         CAST(SUM((p.mu * m.pu) // {_MK_P}) AS BIGINT) AS mu
  FROM pm m JOIN pi{i - 1} p ON m.prev_type = p.state
  GROUP BY m.next_type)
"""


@query(
    "events_markov_stationary",
    oracle=(
        "WITH " + _MK_PRELUDE() + ","
        + ",".join(_MK_STEP(i) for i in (1, 2, 3))
        + f"\nSELECT state, mu AS stationary_units, "
        f"CAST(mu AS DOUBLE) / {_MK_S} AS stationary_p FROM pi3"
    ),
    category="E",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavior Markov chain by three
    power-method iterations, ENTIRELY in scaled integers: transition
    probabilities quantized to 10^6 units (floor of n·10^6 / row total),
    mass vectors in 10^12 units, every propagation term floor-divided
    per edge before the integer sum — the ``graph_pagerank_fixed``
    trick, so the long-run state mix (where user attention converges)
    is bit-identical across engines and partitionings. The unit scales
    are chosen so products stay under 2^63.

    Scale: the matrix is |alphabet|² rows after one user_id-window
    shuffle; each iteration is a join+grouped-integer-sum over that tiny
    matrix — a static 3-stage DAG, no driver loop, no collect."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w_row = Window.partitionBy("prev_type")
    pm = pairs.select(
        "prev_type",
        "next_type",
        (F.col("n") * _MK_P).cast("bigint").alias("num"),
        F.sum("n").over(w_row).alias("row_total"),
    ).select(
        "prev_type",
        "next_type",
        F.expr("num div row_total").cast("bigint").alias("pu"),
    )
    states = pairs.select(F.col("prev_type").alias("state")).distinct()
    n_df = states.agg(F.count("*").alias("ns"))
    pi = states.crossJoin(F.broadcast(n_df)).select(
        "state", F.expr(f"CAST({_MK_S} AS BIGINT) div ns").alias("mu")
    )
    for _ in range(3):
        pi = (
            pm.join(pi, pm.prev_type == pi.state)
            .select(
                F.col("next_type"),
                F.expr(f"(mu * pu) div {_MK_P}").alias("term"),
            )
            .groupBy(F.col("next_type").alias("state"))
            .agg(F.sum("term").cast("bigint").alias("mu"))
        )
    return pi.select(
        "state",
        F.col("mu").alias("stationary_units"),
        (F.col("mu").cast("double") / _MK_S).alias("stationary_p"),
    )


MAD_K = 0.6745  # standard-normal consistency constant
MAD_CUT = 3.5  # Iglewicz-Hoaglin modified z-score threshold


_MAD_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
med AS (
  SELECT event_type, ROUND(quantile_cont(v, 0.5), 6) AS med
  FROM b GROUP BY event_type),
mad AS (
  SELECT b.event_type,
         ROUND(quantile_cont(abs(b.v - m.med), 0.5), 6) AS mad
  FROM b JOIN med m ON b.event_type = m.event_type
  GROUP BY b.event_type)
SELECT b.event_type, b.hour_ts, b.v, m.med, d.mad,
       {MAD_K} * (b.v - m.med) / d.mad AS robust_z,
       abs({MAD_K} * (b.v - m.med) / d.mad) > {MAD_CUT} AS is_anomaly
FROM b
JOIN med m ON b.event_type = m.event_type
JOIN mad d ON b.event_type = d.event_type
WHERE d.mad > 0
"""


@query("ts_anomaly_mad", oracle=_MAD_ORACLE, category="E")
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by the modified z-score (Iglewicz &
    Hoaglin): each hourly bucket scored as 0.6745·(v − median)/MAD with
    the |z| > 3.5 flag — unlike ``events_anomaly_zscore``, the outliers
    themselves cannot inflate the scale estimate, so bursts don't mask
    each other. Median and MAD follow the pinned ``quantile_cont``
    interpolation rounded to 6 dp; the score is one pinned float
    expression mirrored term-for-term, so rows AND flags hash-match
    exactly.

    Scale: one decimal-exact bucket shuffle, two aggregations over the
    already-reduced bucket table, and two broadcast joins of per-type
    scalars — the corpus is touched once."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    med = b.groupBy("event_type").agg(
        F.round(F.percentile("v", F.lit(0.5)), 6).alias("med")
    )
    mad = (
        b.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("v") - F.col("med")), F.lit(0.5)),
                6,
            ).alias("mad")
        )
    )
    z = F.lit(MAD_K) * (F.col("v") - F.col("med")) / F.col("mad")
    return (
        b.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .select(
            "event_type",
            "hour_ts",
            "v",
            "med",
            "mad",
            z.alias("robust_z"),
            (F.abs(z) > MAD_CUT).alias("is_anomaly"),
        )
    )


# --- rolling regression (round 5) --------------------------------------

# Trailing-10-row OLS slope per supplier: the rolling sufficient
# statistics are decimal-exact window sums (order-free within the frame;
# the frame itself is pinned by a unique (shipdate, orderkey,
# linenumber) sort), and the slope algebra evaluates identical SQL
# expression text on both engines — same discipline as
# ml_linreg_normal_eq, lifted into a window frame.
# NOTE: (l_orderkey, l_linenumber) is NOT unique in this fixture, so the
# sort adds the measure columns as tiebreakers; rows still tied after
# that are full duplicates, which are frame-equivalent under a ROWS
# frame (swapping adjacent identical rows changes no frame's multiset).
_ROLL_FRAME = (
    "OVER (PARTITION BY l_suppkey "
    "ORDER BY l_shipdate, l_orderkey, l_linenumber, "
    "l_quantity, l_extendedprice "
    "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"
)
_ROLL_STATS = (
    f"CAST(count(*) {_ROLL_FRAME} AS BIGINT) AS n",
    f"CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) {_ROLL_FRAME} AS DOUBLE) AS sx",
    f"CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) {_ROLL_FRAME} AS DOUBLE) AS sy",
    f"CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) {_ROLL_FRAME} AS DOUBLE) AS sxx",
    f"CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) {_ROLL_FRAME} AS DOUBLE) AS sxy",
)
_ROLL_SLOPE = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"

_ROLLING_OLS_ORACLE = f"""
WITH w AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         {", ".join(_ROLL_STATS)}
  FROM lineitem)
SELECT l_suppkey, l_orderkey, l_linenumber, n,
       {_ROLL_SLOPE} AS slope
FROM w
WHERE n >= 2 AND (n * sxx - sx * sx) <> 0
"""


@query("win_rolling_ols_slope", oracle=_ROLLING_OLS_ORACLE, category="E")
def win_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ordinary-least-squares slope (price sensitivity to
    quantity) over each supplier's trailing 10 shipments — the local
    trend estimator used for drift monitoring, computed entirely from
    windowed sufficient statistics (no per-row Python, no second pass).

    Scale: one shuffle on l_suppkey, one in-partition sort, and all five
    rolling sums share a single window frame (one Window physical node);
    frames never cross partitions so the operator is embarrassingly
    partition-parallel at any scale. Degenerate frames (n < 2, zero
    quantity variance) are filtered with exact comparisons."""
    li = t(spark, sf_dir, "lineitem")
    w = li.selectExpr(
        "l_suppkey", "l_orderkey", "l_linenumber", *_ROLL_STATS
    )
    return w.filter("n >= 2 AND (n * sxx - sx * sx) <> 0").selectExpr(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "n",
        f"{_ROLL_SLOPE} AS slope",
    )


# --- budget waterfall allocation (round 5) -----------------------------

WATERFALL_BUDGET = 1000000  # per-nation budget to allocate, in price units

_WF_CB = (
    "coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))"
    " OVER (PARTITION BY n_name ORDER BY o_orderdate, o_orderkey"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE), 0.0)"
)
_WF_ALLOC = (
    f"LEAST(o_totalprice, GREATEST(0.0, {WATERFALL_BUDGET} - cum_before))"
)

_WATERFALL_ORACLE = f"""
WITH j AS (
  SELECT n_name, o_orderkey, o_orderdate, o_totalprice
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey),
w AS (
  SELECT n_name, o_orderkey, o_orderdate, o_totalprice,
         {_WF_CB} AS cum_before
  FROM j)
SELECT n_name, o_orderkey, o_orderdate, o_totalprice, cum_before,
       {_WF_ALLOC} AS allocated
FROM w
WHERE {_WF_ALLOC} > 0.0
"""


@query("win_budget_waterfall", oracle=_WATERFALL_ORACLE, category="E")
def win_budget_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential budget allocation (waterfall): each nation has a fixed
    budget consumed by its orders in date order; an order receives
    ``min(demand, max(0, budget - spent_so_far))`` — the greedy
    fill that expresses quota/credit-line/inventory allocation as ONE
    window pass (running sum with an exclusive frame) instead of an
    iterative loop. Only funded rows are returned.

    Exactness: the running "spent" is an exact decimal window sum over
    2dp prices with a (date, orderkey)-pinned frame; the clamp algebra
    evaluates identical expression text on both engines. Scale: one
    shuffle on the partition key, one in-partition sort; nothing
    iterative."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_orderkey", "o_orderdate", "o_totalprice")
    )
    w = j.selectExpr(
        "n_name",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        f"{_WF_CB} AS cum_before",
    )
    return w.selectExpr(
        "n_name",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        "cum_before",
        f"{_WF_ALLOC} AS allocated",
    ).filter(F.col("allocated") > 0.0)


# --- representative-point downsampling (round 5) -----------------------

DOWNSAMPLE_BUCKETS = 20  # points kept per series

_DS_ORACLE = f"""
WITH s AS (
  SELECT event_type, event_id, ts, value,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY ts, event_id) - 1 AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events),
b AS (
  SELECT event_type, event_id, ts, value,
         rn * {DOWNSAMPLE_BUCKETS} // n AS bucket
  FROM s),
m AS (
  SELECT event_type, bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(*) AS bucket_mean
  FROM b GROUP BY event_type, bucket),
d AS (
  SELECT b.event_type, b.bucket, b.event_id, b.ts, b.value,
         abs(b.value - m.bucket_mean) AS dev,
         row_number() OVER (PARTITION BY b.event_type, b.bucket
              ORDER BY abs(b.value - m.bucket_mean) DESC, b.event_id)
           AS pick
  FROM b JOIN m ON b.event_type = m.event_type AND b.bucket = m.bucket)
SELECT event_type, bucket, event_id, ts, value, dev
FROM d WHERE pick = 1
"""


@query("ts_downsample_bucket_rep", oracle=_DS_ORACLE, category="E")
def ts_downsample_bucket_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series downsampling for visualization/sketching: each event-type
    series is cut into 20 equal-count buckets and each bucket keeps its
    most *informative* point — the one farthest from the bucket mean
    (the shape-preserving idea behind largest-triangle downsampling,
    made order-free: true LTTB's previously-selected-point recursion is
    inherently sequential, while max-deviation-from-mean gives one
    grouped pass). Tie-break on event_id.

    Exactness: bucket ids are exact integer arithmetic (rn*B // n);
    bucket means are decimal-exact sums over the 2dp value column
    divided once; deviations and the argmax ordering compare
    bit-identical doubles. Scale: two shuffles (series window, bucket
    agg) regardless of series length; output is B rows per series."""
    e = t(spark, sf_dir, "events")
    ws = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = e.select(
        "event_type", "event_id", "ts", "value",
        (F.row_number().over(ws) - 1).cast("bigint").alias("rn"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    b = s.withColumn(
        "bucket", F.expr(f"rn * {DOWNSAMPLE_BUCKETS} div n")
    ).drop("rn", "n")
    m = b.groupBy("event_type", "bucket").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("bucket_mean")
    )
    d = b.join(F.broadcast(m), ["event_type", "bucket"]).withColumn(
        "dev", F.abs(F.col("value") - F.col("bucket_mean"))
    )
    wp = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("dev"), "event_id"
    )
    return (
        d.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select("event_type", "bucket", "event_id", "ts", "value", "dev")
    )


# --- OHLC bars (round 5) -----------------------------------------------

_OHLC_ORACLE = """
WITH s AS (
  SELECT event_type, value,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_ts,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, bar_ts,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM s GROUP BY event_type, bar_ts
"""


@query("ts_ohlc_bars", oracle=_OHLC_ORACLE, category="E")
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event-type series: open/close are the first/
    last tick by a (ts, event_id)-pinned order, high/low are plain
    extremes, volume is the decimal-exact value sum — the canonical
    time-series compaction (tick → bar) every market/metrics store runs.

    First/last are expressed as rank-1 conditional aggregates (two
    row_number windows sharing one sort) rather than first_value(),
    because engines disagree on first/last frame semantics but agree
    exactly on rank-1-by-total-order. Scale: one shuffle on
    (event_type, hour); bars output is |series × hours|."""
    e = t(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("event_type", bar).orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", bar).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    s = e.select(
        "event_type",
        "value",
        bar.alias("bar_ts"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return s.groupBy("event_type", "bar_ts").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count("*").cast("bigint").alias("n_ticks"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("volume"),
    )


# --- calendar spine with zero-fill (round 5) ---------------------------

_SPINE_ORACLE = """
WITH spine AS (
  SELECT CAST(DATE '1995-01-01' + INTERVAL (i) DAY AS DATE) AS d
  FROM generate_series(0, 2404) t(i)),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1)
SELECT s.d,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(revenue, 0.0) AS revenue,
       (n_orders IS NULL) AS is_gap
FROM spine s LEFT JOIN daily USING (d)
"""


@query("ts_calendar_spine_fill", oracle=_SPINE_ORACLE, category="E")
def ts_calendar_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily reporting spine: a zero-I/O generated calendar
    (every day of the fixture's 1995-01-01..2001-08-01 span) left-joined
    to daily order aggregates, gaps zero-filled and flagged — the
    missing-days fix every time-series report needs (a GROUP BY alone
    silently drops empty days).

    Scale: the spine is |days| rows from ``range()`` (broadcastable
    forever); the daily aggregate is one partial+final pass; the join
    broadcasts the spine side. Exactness: integer day arithmetic,
    decimal-exact revenue, boolean gap flag."""
    spine = spark.range(0, 2405).select(
        F.date_add(F.lit("1995-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d")
    )
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    return (
        F.broadcast(spine)
        .join(daily, "d", "left")
        .select(
            "d",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.col("n_orders").isNull().alias("is_gap"),
        )
    )


# --- cumulative adoption curve (round 5) -------------------------------

_ADOPTION_ORACLE = """
WITH first_seen AS (
  SELECT user_id, CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0
  FROM events GROUP BY user_id),
per_day AS (
  SELECT d0 AS d, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY d0)
SELECT d, new_users,
       CAST(SUM(new_users) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day
"""


@query("events_cumulative_adoption", oracle=_ADOPTION_ORACLE, category="E")
def events_cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User adoption curve: first-seen date per user, new users per day,
    and the exact running total of distinct users ever seen — the
    growth chart computed WITHOUT a sliding distinct (first-seen
    reduces cumulative-distinct to a cumulative SUM of integers, the
    100 TB-safe formulation; contrast win_sliding_distinct_users, whose
    exact sliding sets are the documented scale ceiling).

    Scale: one user-keyed aggregation, one tiny per-day rollup, one
    global window over |days| rows (bounded)."""
    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    per_day = first_seen.groupBy(F.col("d0").alias("d")).agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


# --- single-row KPI scorecard (round 5) --------------------------------

_KPI_ORACLE = """
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         MAX(value) AS max_value
  FROM events),
ranked AS (
  SELECT value,
         CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM events),
p95 AS (
  SELECT MIN(value) AS p95_value FROM ranked
  WHERE r >= CAST(ceil(0.95 * n) AS BIGINT)),
tt AS (
  SELECT event_type AS top_event_type FROM (
    SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type
    ORDER BY c DESC, event_type LIMIT 1))
SELECT total_events, n_users,
       CAST(total_events AS DOUBLE) / n_users AS events_per_user,
       max_value, p95_value, top_event_type
FROM base, p95, tt
"""


@query("events_kpi_scorecard", oracle=_KPI_ORACLE, category="E")
def events_kpi_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row KPI scorecard: event volume, distinct users,
    events/user, max value, an EXACT p95 (the rank-crossing element
    under a pinned (value, event_id) total order — no interpolation, so
    no engine-specific percentile math), and the modal event type
    (tie-broken) — the one-glance dashboard row every metrics store
    serves.

    Scale: three bounded aggregations + one global rank over the value
    column; at extreme scale the p95 swaps to the verdict-oracled
    approx-percentile tier (same output shape)."""
    e = t(spark, sf_dir, "events")
    base = e.agg(
        F.count("*").cast("bigint").alias("total_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.max("value").alias("max_value"),
    )
    wr = Window.orderBy("value", "event_id")
    ranked = e.select(
        "value",
        F.row_number().over(wr).cast("bigint").alias("r"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    p95 = ranked.filter(
        F.col("r") >= F.ceil(0.95 * F.col("n")).cast("bigint")
    ).agg(F.min("value").alias("p95_value"))
    tt = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "event_type")
        .limit(1)
        .select(F.col("event_type").alias("top_event_type"))
    )
    return (
        base.crossJoin(F.broadcast(p95))
        .crossJoin(F.broadcast(tt))
        .select(
            "total_events",
            "n_users",
            (F.col("total_events").cast("double") / F.col("n_users")).alias(
                "events_per_user"
            ),
            "max_value",
            "p95_value",
            "top_event_type",
        )
    )


# --- Mann-Kendall trend test (round 5) ---------------------------------

_MK_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END
           AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d),
nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
       FROM daily GROUP BY event_type)
SELECT p.event_type,
       nd.n,
       CAST(SUM(p.sgn) AS BIGINT) AS s_statistic,
       CAST(SUM(p.sgn) AS DOUBLE) / (nd.n * (nd.n - 1) / 2)
         AS kendall_tau
FROM pairs p JOIN nd ON p.event_type = nd.event_type
GROUP BY p.event_type, nd.n
"""


@query("ts_trend_mann_kendall", oracle=_MK_ORACLE, category="E")
def ts_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend statistic per event-type series: S = Σ sign
    over all ordered day pairs of the daily-mean series, plus the
    normalized Kendall tau — the nonparametric monotone-trend detector
    (no distributional assumption, exact integer S).

    Scale: the pairwise join is per-series over the DAILY aggregate —
    |days|² pairs per series (bounded by the calendar, not event
    volume), equi-keyed on the series so it shuffles once. The daily
    means are decimal-exact sums over 2dp values divided once, so the
    sign comparisons are bit-identical cross-engine."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("v")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    nd = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        pairs.groupBy("event_type")
        .agg(F.sum("sgn").cast("bigint").alias("s_statistic"))
        .join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            "n",
            "s_statistic",
            (
                F.col("s_statistic").cast("double")
                / (F.col("n") * (F.col("n") - 1) / 2)
            ).alias("kendall_tau"),
        )
    )


# --- exponential time-decay engagement score (round 5) -----------------

_DECAY_ORACLE = """
WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mts FROM events),
per AS (
  SELECT user_id,
         round(power(0.5,
             CAST(date_diff('day', CAST(ts AS DATE), CAST(mts AS DATE))
                  AS DOUBLE) / 7.0), 6) AS w
  FROM events, mx)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS decay_score
FROM per GROUP BY user_id
"""


@query("events_decay_score", oracle=_DECAY_ORACLE, category="E")
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score: each event contributes
    0.5^(age_days/7) (7-day half-life, anchored at the corpus max
    timestamp so the score is deterministic), summed per user — the
    engagement/churn-risk feature every activation model starts from.

    Exactness: pow is a transcendental, so each weight is 6dp-rounded
    then summed as exact decimals (the package's ln/pow discipline);
    ages are exact integer day diffs. Scale: one broadcast scalar (max
    ts) + one grouped decimal sum."""
    e = t(spark, sf_dir, "events")
    mx = e.agg(F.max(F.col("ts").cast("timestamp")).alias("mts"))
    per = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.round(
            F.pow(
                F.lit(0.5),
                F.datediff(F.col("mts").cast("date"), F.col("ts").cast("date"))
                .cast("double")
                / 7.0,
            ),
            6,
        ).alias("w"),
    )
    return per.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("w").cast("decimal(18,6)")).cast("double").alias(
            "decay_score"
        ),
    )


# --- maximum drawdown (round 5) ----------------------------------------

_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
runmax AS (
  SELECT event_type, d, v,
         MAX(v) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM daily)
SELECT event_type,
       MAX(peak - v) AS max_drawdown,
       MAX(peak) AS peak_value,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM runmax GROUP BY event_type
"""


@query("ts_max_drawdown", oracle=_DRAWDOWN_ORACLE, category="E")
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event-type's daily-total series: the
    largest peak-to-trough decline (running max minus current, maxed) —
    the risk metric that a single pass of one running-max window + one
    grouped max computes, no pairwise scan.

    Exactness: daily totals are decimal-exact; the running max SELECTS
    an existing exact value, so peak − v is one deterministic IEEE
    subtraction. Scale: one series shuffle + sort; drawdown state is a
    scalar per row."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runmax = daily.withColumn("peak", F.max("v").over(wp))
    return runmax.groupBy("event_type").agg(
        F.max(F.col("peak") - F.col("v")).alias("max_drawdown"),
        F.max("peak").alias("peak_value"),
        F.count("*").cast("bigint").alias("n_days"),
    )


# --- historic value-at-risk (round 5) ----------------------------------

VAR_ALPHA_PCT = 5  # 5% tail → the p5 of the day-over-day change

_VAR_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
chg AS (
  SELECT event_type, d,
         v - lag(v) OVER (PARTITION BY event_type ORDER BY d) AS delta
  FROM daily),
ranked AS (
  SELECT event_type, delta,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY delta, d) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM chg WHERE delta IS NOT NULL)
SELECT event_type,
       MIN(n) AS n_changes,
       MAX(CASE WHEN r = CAST(ceil(0.05 * n) AS BIGINT) THEN delta END)
         AS var_p5
FROM ranked GROUP BY event_type
"""


@query("ts_var_historic", oracle=_VAR_ORACLE, category="E")
def ts_var_historic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historic value-at-risk: the exact 5th-percentile day-over-day
    change of each series (the rank-crossing element under a pinned
    (delta, day) order — no interpolation, so no engine-specific
    percentile math). A negative var_p5 of X reads "on the worst 5% of
    days, the daily total drops by at least |X|".

    Scale: daily rollup + lag + one per-series rank — everything after
    the rollup is |days|-bounded. Deltas subtract two decimal-exact
    doubles, so ranks are bit-deterministic."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    wl = Window.partitionBy("event_type").orderBy("d")
    chg = daily.select(
        "event_type",
        "d",
        (F.col("v") - F.lag("v").over(wl)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("delta", "d")
    ranked = chg.select(
        "event_type",
        "delta",
        F.row_number().over(wr).cast("bigint").alias("r"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.min("n").alias("n_changes"),
        F.max(
            F.when(
                F.col("r") == F.ceil(0.05 * F.col("n")).cast("bigint"),
                F.col("delta"),
            )
        ).alias("var_p5"),
    )


# --- Wilson lower-bound conversion ranking --------------------------------

WILSON_Z = "1.96"  # 95% two-sided; z^2 = 3.8416 exactly (1.96^2)
WILSON_Z2 = "3.8416"

_WILSON_ORACLE = f"""
WITH m AS (
  SELECT user_id,
         CAST(COUNT(*) FILTER (WHERE event_type IN ('view', 'purchase'))
              AS BIGINT) AS n_trials,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purchases
  FROM events GROUP BY user_id),
s AS (
  SELECT user_id, n_trials, n_purchases,
         CAST(n_purchases AS DOUBLE) / n_trials AS p_hat,
         CAST(n_trials AS DOUBLE) AS nd
  FROM m WHERE n_trials >= 1)
SELECT user_id, n_trials, n_purchases, p_hat,
       (p_hat + {WILSON_Z2} / (2.0 * nd)
        - {WILSON_Z} * sqrt(p_hat * (1.0 - p_hat) / nd
                            + {WILSON_Z2} / (4.0 * nd * nd)))
         / (1.0 + {WILSON_Z2} / nd) AS wilson_lb,
       CAST(row_number() OVER (
           ORDER BY (p_hat + {WILSON_Z2} / (2.0 * nd)
                     - {WILSON_Z} * sqrt(p_hat * (1.0 - p_hat) / nd
                                         + {WILSON_Z2} / (4.0 * nd * nd)))
                      / (1.0 + {WILSON_Z2} / nd) DESC,
                    user_id) AS INT) AS rank
FROM s
"""


@query("events_wilson_ctr_rank", oracle=_WILSON_ORACLE, category="E")
def events_wilson_ctr_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase share of view/purchase activity ranked by the WILSON SCORE
    LOWER BOUND (95%) — the canonical fix for "how not to sort by
    average rating": a 1/1 converter must not outrank a 48/50 one, so
    items order by the confidence-penalized lower bound, not p̂. The
    interval is the closed-form Wilson score with z=1.96 (z² = 3.8416
    exactly, used as a literal on both engines — never computed as
    z·z).

    Exactness: p̂ and every interval term are the same IEEE expression
    tree on both engines (sqrt is correctly rounded, so identical
    inputs give identical bits); the rank orders by those identical
    doubles with a user_id tie-break.

    Scale: one partial+final conditional aggregation per user; the
    ranking window runs over the already-reduced per-user frame (the
    ``events_rfm_segmentation`` caveat: at billions of users swap the
    global row_number for a TakeOrdered top-N or a sampled-threshold
    cut, as ``docs_knn_density_prune_sampled`` demonstrates)."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.count(
            F.when(F.col("event_type").isin("view", "purchase"), 1)
        )
        .cast("bigint")
        .alias("n_trials"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("n_purchases"),
    )
    s = m.filter(F.col("n_trials") >= 1).select(
        "user_id",
        "n_trials",
        "n_purchases",
        (F.col("n_purchases").cast("double") / F.col("n_trials")).alias(
            "p_hat"
        ),
        F.col("n_trials").cast("double").alias("nd"),
    )
    z = float(WILSON_Z)
    z2 = float(WILSON_Z2)
    lb = (
        F.col("p_hat")
        + F.lit(z2) / (F.lit(2.0) * F.col("nd"))
        - F.lit(z)
        * F.sqrt(
            F.col("p_hat") * (F.lit(1.0) - F.col("p_hat")) / F.col("nd")
            + F.lit(z2) / (F.lit(4.0) * F.col("nd") * F.col("nd"))
        )
    ) / (F.lit(1.0) + F.lit(z2) / F.col("nd"))
    w = Window.orderBy(F.col("wilson_lb").desc(), "user_id")
    return (
        s.select(
            "user_id", "n_trials", "n_purchases", "p_hat",
            lb.alias("wilson_lb"),
        )
        .select(
            "*",
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


# --- dynamic-gap session windows (Spark session_window API) ---------------

DYN_GAP_PURCHASE_US = 3_600_000_000  # purchases hold sessions open 60 min
DYN_GAP_DEFAULT_US = 1_800_000_000  # everything else: 30 min

_DYN_SESS_ORACLE = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, value,
         epoch_us(ts) AS ts_us,
         epoch_us(ts) + CASE WHEN event_type = 'purchase'
                             THEN {DYN_GAP_PURCHASE_US}
                             ELSE {DYN_GAP_DEFAULT_US} END AS end_us
  FROM events),
flagged AS (
  SELECT user_id, ts, event_id, value, ts_us, end_us,
         CASE WHEN ts_us < MAX(end_us) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_s
  FROM ev),
sess AS (
  -- the running SUM must scan rows in the SAME total order the new_s
  -- flags were computed under — (ts, event_id) in both windows — or a
  -- simultaneous-event pair at a session boundary can attach the
  -- new_s=0 row to the PREVIOUS session (ADVICE r08)
  SELECT user_id, ts, value, end_us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS seq
  FROM flagged)
SELECT user_id,
       MIN(ts) AS session_start,
       make_timestamp(MAX(end_us)) AS session_end,
       {BIGCOUNT("*")} AS n_events,
       {DSUM("value")} AS total_value
FROM sess GROUP BY user_id, seq
"""


@query("win_session_dynamic_gap", oracle=_DYN_SESS_ORACLE, category="E")
def win_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT gap — Spark's dynamic-gap
    ``session_window`` (the Spark 3.2+/4 API this repo's fixed-gap keys
    don't exercise): a purchase holds its session open 60 minutes,
    anything else 30, so checkout flows don't fragment. Each event
    contributes the interval [ts, ts+gap); overlapping intervals merge
    into one session per user.

    The oracle is the closed-form interval union: order each user's
    events by time, a session breaks exactly when an event's start is
    ≥ the running MAX of all previous interval ends (exclusive-end
    semantics, verified empirically against the engine at two scales);
    microsecond-integer arithmetic end to end, so the merge decisions
    and both session bounds are bit-identical.

    Scale: the engine plans session_window as one exchange on user_id
    + a sort-based session merge (state = one open session per user);
    the oracle's two windows share a single (user; time) sort. Both
    are the ``win_sessionize`` envelope with a variable gap."""
    e = t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1 hour")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_funnel_any_match",
    oracle=f"""
WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
qc AS (
  SELECT DISTINCT c.user_id, c.ts
  FROM events c JOIN events vv
    ON vv.user_id = c.user_id AND vv.event_type = 'view'
   AND c.ts > vv.ts AND c.ts <= vv.ts + {FUNNEL_HOP}
  WHERE c.event_type = 'click'),
qp AS (
  SELECT DISTINCT p.user_id
  FROM events p JOIN qc
    ON qc.user_id = p.user_id
   AND p.ts > qc.ts AND p.ts <= qc.ts + {FUNNEL_HOP}
  WHERE p.event_type = 'purchase')
SELECT 'step1_view' AS step, {BIGCOUNT("*")} AS users FROM v
UNION ALL SELECT 'step2_click', {BIGCOUNT("*")}
FROM (SELECT DISTINCT user_id FROM qc)
UNION ALL SELECT 'step3_purchase', {BIGCOUNT("*")} FROM qp
""",
    category="E",
)
def events_funnel_any_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-match funnel (view → click → purchase, each hop within 6
    hours) — the existence-semantics companion to
    ``events_funnel_conversion``'s greedy first-occurrence chain: a
    user converts a step if ANY qualifying sequence exists, not just
    the one through each step's earliest timestamp. The greedy chain
    undercounts (a user whose first click never converts but whose
    later click does is greedy-lost at step 3); product analytics
    suites (Amplitude-style funnels) default to this any-match mode,
    so both semantics must be available and clearly named.

    Scale: each hop joins on (user_id, time bucket) — bucket width =
    the hop window, the LATER step replicated to its bucket and the
    one before (the ``join_range_binned`` ±1 pattern; the earlier
    event's bucket is always one of the two, so no pair is lost and
    none duplicates). That bounds pair fan-out by per-(user, 6 h
    bucket) step densities instead of per-user TOTALS — the guard
    VERDICT r09 asked for: one bot user with 10⁵ views and 10⁵ clicks
    spread over months generates pairs only inside each shared
    window, not 10¹⁰ (ADVICE-class hot-key blowup). Each hop is then
    DISTINCT-reduced so qualified-step state is one row per
    (user, ts). The final counts are three partial+final
    aggregations. No global window, no per-user event lists."""
    # FUNNEL_HOP as an exact integer bin width (microseconds)
    hop_us = 6 * 3600 * 1_000_000
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.expr(f"us div {hop_us}").alias("bin"),
    )
    qc = (
        e.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            F.expr(f"us div {hop_us}").alias("obin"),
            F.explode(F.array(F.lit(0), F.lit(-1))).alias("shift"),
        )
        .select(
            "user_id", "ts", (F.col("obin") + F.col("shift")).alias("bin")
        )
        .join(v, ["user_id", "bin"])
        .filter(
            (F.col("ts") > F.col("vts"))
            & (F.col("ts") <= F.col("vts") + F.expr(FUNNEL_HOP))
        )
        .select("user_id", "ts")
        .distinct()
    )
    qp = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.expr(f"us div {hop_us}").alias("obin"),
            F.explode(F.array(F.lit(0), F.lit(-1))).alias("shift"),
        )
        .select(
            "user_id", "ts", (F.col("obin") + F.col("shift")).alias("bin")
        )
        .join(
            qc.select(
                "user_id",
                F.col("ts").alias("cts"),
                F.expr(f"unix_micros(ts) div {hop_us}").alias("bin"),
            ),
            ["user_id", "bin"],
        )
        .filter(
            (F.col("ts") > F.col("cts"))
            & (F.col("ts") <= F.col("cts") + F.expr(FUNNEL_HOP))
        )
        .select("user_id")
        .distinct()
    )
    step1 = (
        v.select("user_id")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("users"))
        .select(F.lit("step1_view").alias("step"), "users")
    )
    step2 = (
        qc.select("user_id")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("users"))
        .select(F.lit("step2_click").alias("step"), "users")
    )
    step3 = qp.agg(F.count("*").cast("bigint").alias("users")).select(
        F.lit("step3_purchase").alias("step"), "users"
    )
    return step1.unionAll(step2).unionAll(step3)


HW_ALPHA = 0.5  # level smoothing
HW_BETA = 0.25  # trend smoothing
HW_GAMMA = 0.25  # seasonal smoothing
HW_PERIOD = 24  # seasonal slots (hour-of-cycle, position-based)
HW_HORIZON = 24  # forecast steps emitted per series

# the fold step, spelled ONCE and injected into both engines' lambdas:
# new_l/new_b/new_s with new_l inlined where it recurs, so the IEEE
# expression trees are identical term for term (ts_holt_linear rule).
_HW_NEW_L = (
    f"{HW_ALPHA} * (x[1] - acc[CAST(x[2] AS INT) + 2])"
    f" + {1 - HW_ALPHA} * (acc[1] + acc[2])"
)
_HW_NEW_B = (
    f"{HW_BETA} * (({_HW_NEW_L}) - acc[1]) + {1 - HW_BETA} * acc[2]"
)
_HW_NEW_S = (
    f"{HW_GAMMA} * (x[1] - ({_HW_NEW_L}))"
    f" + {1 - HW_GAMMA} * acc[CAST(x[2] AS INT) + 2]"
)


@query(
    "ts_holt_winters",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type, list(v ORDER BY hour_ts) AS vals
  FROM b GROUP BY event_type),
st AS (
  SELECT event_type, len(vals) AS n,
         list_reduce(
           [[vals[1], vals[2] - vals[1]] ||
              list_transform(generate_series(1, {HW_PERIOD}),
                             j -> 0.0)] ||
             list_transform(
               generate_series(2, len(vals)),
               i -> [vals[i],
                     CAST((i - 1) % {HW_PERIOD} + 1 AS DOUBLE)]),
           (acc, x) -> [{_HW_NEW_L}, {_HW_NEW_B}] ||
             list_transform(generate_series(1, {HW_PERIOD}),
               j -> CASE WHEN j = CAST(x[2] AS INT)
                         THEN {_HW_NEW_S}
                         ELSE acc[j + 2] END)) AS s
  FROM l WHERE len(vals) >= 2)
SELECT event_type, CAST(h AS INT) AS horizon,
       s[1] AS level, s[2] AS trend,
       s[CAST((n + h - 1) % {HW_PERIOD} + 1 AS INT) + 2] AS seasonal,
       s[1] + CAST(h AS DOUBLE) * s[2]
         + s[CAST((n + h - 1) % {HW_PERIOD} + 1 AS INT) + 2] AS forecast
FROM st, unnest(generate_series(1, {HW_HORIZON})) t(h)
""",
    category="E",
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing per event
    type, emitting a {HW_HORIZON}-step forecast — the seasonal member
    of the smoothing family (``ts_ewma`` → level; ``ts_holt_linear``
    → +trend; this → +a {HW_PERIOD}-slot seasonal cycle): l_t =
    α(x_t−s_{{t−P}}) + (1−α)(l_{{t−1}}+b_{{t−1}}); b_t = β(l_t−l_{{t−1}})
    + (1−β)b_{{t−1}}; s_t = γ(x_t−l_t) + (1−γ)s_{{t−P}}, seeded l=x₁,
    b=x₂−x₁, seasonal slots zero (position-indexed cycle, so gaps in
    the hourly grid don't desynchronize the two engines). Forecast at
    horizon h is l + h·b + s_{{slot(n+h)}}.

    Exactness: the recursion is ONE left-to-right fold per series with
    a {HW_PERIOD + 2}-slot accumulator [level, trend, s₁..s₂₄] — Spark
    ``aggregate`` and DuckDB ``list_reduce`` consume identical
    (value, slot) items in identical order, and the step's expression
    text is generated from one shared template (new_l inlined where it
    recurs), so every state and forecast is bit-identical with no
    tolerance. Smoothing constants are powers of two.

    Scale: unlike the per-prefix emissions of ``ts_holt_linear`` (O(n²)
    folds), the forecast form folds each series ONCE — O(n) state
    updates per type after the usual decimal bucket shuffle; output is
    {HW_HORIZON} rows per type. Unbounded series would checkpoint the
    26-number state per calendar window and seed the next window's
    fold with it — the state is mergeable forward, which is the whole
    point of exponential smoothing at stream scale."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    lst = b.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour_ts", "v"))).alias(
            "pairs"
        )
    )
    vals = F.transform(F.col("pairs"), lambda p: p["v"])
    lst = lst.select("event_type", vals.alias("vals")).filter(
        F.size("vals") >= 2
    )

    a, na = F.lit(HW_ALPHA), F.lit(1 - HW_ALPHA)
    bb, nb = F.lit(HW_BETA), F.lit(1 - HW_BETA)
    g, ng = F.lit(HW_GAMMA), F.lit(1 - HW_GAMMA)

    def step(acc, x):
        x1 = F.element_at(x, 1)
        xi = F.element_at(x, 2).cast("int")
        s_old = F.element_at(acc, xi + F.lit(2))
        l_old = F.element_at(acc, 1)
        b_old = F.element_at(acc, 2)
        new_l = a * (x1 - s_old) + na * (l_old + b_old)
        new_b = bb * (new_l - l_old) + nb * b_old
        new_s = g * (x1 - new_l) + ng * s_old
        return F.concat(
            F.array(new_l, new_b),
            F.transform(
                F.sequence(F.lit(1), F.lit(HW_PERIOD)),
                lambda j: F.when(j == xi, new_s).otherwise(
                    F.element_at(acc, j + F.lit(2))
                ),
            ),
        )

    items = F.transform(
        F.sequence(F.lit(2), F.size(F.col("vals"))),
        lambda i: F.array(
            F.element_at(F.col("vals"), i),
            ((i - 1) % HW_PERIOD + 1).cast("double"),
        ),
    )
    init = F.concat(
        F.array(
            F.element_at(F.col("vals"), 1),
            F.element_at(F.col("vals"), 2)
            - F.element_at(F.col("vals"), 1),
        ),
        F.array_repeat(F.lit(0.0), HW_PERIOD),
    )
    st = lst.select(
        "event_type",
        F.size("vals").alias("n"),
        F.aggregate(items, init, step).alias("s"),
    )
    slot = ((F.col("n") + F.col("horizon") - 1) % HW_PERIOD + 1).cast(
        "int"
    )
    return st.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(HW_HORIZON))).alias(
            "horizon"
        ),
        F.col("s"),
        F.col("n"),
    ).select(
        "event_type",
        F.col("horizon").cast("int").alias("horizon"),
        F.element_at("s", 1).alias("level"),
        F.element_at("s", 2).alias("trend"),
        F.element_at(F.col("s"), slot + F.lit(2)).alias("seasonal"),
        (
            F.element_at("s", 1)
            + F.col("horizon").cast("double") * F.element_at("s", 2)
            + F.element_at(F.col("s"), slot + F.lit(2))
        ).alias("forecast"),
    )


HW_HOLDOUT = 24  # hours held out per series for the backtest


@query(
    "ts_holt_winters_backtest",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {DSUM("value")} AS v
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type, list(v ORDER BY hour_ts) AS vals
  FROM b GROUP BY event_type),
tr AS (
  SELECT event_type, vals,
         len(vals) - {HW_HOLDOUT} AS n_train
  FROM l WHERE len(vals) >= {HW_HOLDOUT} + 2),
st AS (
  SELECT event_type, vals, n_train,
         list_reduce(
           [[vals[1], vals[2] - vals[1]] ||
              list_transform(generate_series(1, {HW_PERIOD}),
                             j -> 0.0)] ||
             list_transform(
               generate_series(2, n_train),
               i -> [vals[i],
                     CAST((i - 1) % {HW_PERIOD} + 1 AS DOUBLE)]),
           (acc, x) -> [{_HW_NEW_L}, {_HW_NEW_B}] ||
             list_transform(generate_series(1, {HW_PERIOD}),
               j -> CASE WHEN j = CAST(x[2] AS INT)
                         THEN {_HW_NEW_S}
                         ELSE acc[j + 2] END)) AS s
  FROM tr),
err AS (
  SELECT event_type, h,
         vals[n_train + h] AS actual,
         s[1] + CAST(h AS DOUBLE) * s[2]
           + s[CAST((n_train + h - 1) % {HW_PERIOD} + 1 AS INT) + 2]
             AS forecast
  FROM st, unnest(generate_series(1, {HW_HOLDOUT})) t(h))
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       {DSUM("round(abs(forecast - actual), 6)")} AS sum_abs_err,
       {DSUM("round(abs(actual), 6)")} AS sum_abs_actual,
       {DSUM("round(abs(forecast - actual), 6)")}
         / {DSUM("round(abs(actual), 6)")} AS wape
FROM err GROUP BY event_type
""",
    category="E",
)
def ts_holt_winters_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALK-FORWARD BACKTEST of the Holt-Winters forecaster — the
    evaluation half that makes ``ts_holt_winters`` trustworthy: the
    last {HW_HOLDOUT} hours of each type's series are HELD OUT, the
    smoothing state is folded over the training prefix only, forecasts
    for the held-out horizon are scored against the actuals, and each
    type reports its WAPE (the scale-free error a forecast dashboard
    alerts on). Train/test separation is positional, so there is no
    leakage by construction.

    Exactness: the training fold is the ``ts_holt_winters`` shared-
    template recursion verbatim (prefix-bounded); absolute errors are
    rounded to 6 dp before the order-free decimal sums; WAPE is one
    mirrored division of two such sums.

    Scale: identical envelope to the forecaster — one decimal bucket
    shuffle, one O(n_train) fold per series, {HW_HOLDOUT} scored rows
    per type. Rolling-origin variants re-fold per origin; exponential
    smoothing's mergeable-forward state makes each successive origin
    an O(1) extension of the last, not a re-fold."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    lst = b.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour_ts", "v"))).alias(
            "pairs"
        )
    )
    vals = F.transform(F.col("pairs"), lambda p: p["v"])
    tr = (
        lst.select("event_type", vals.alias("vals"))
        .withColumn("n_train", F.size("vals") - HW_HOLDOUT)
        .filter(F.size("vals") >= HW_HOLDOUT + 2)
    )

    a, na = F.lit(HW_ALPHA), F.lit(1 - HW_ALPHA)
    bb, nb = F.lit(HW_BETA), F.lit(1 - HW_BETA)
    g, ng = F.lit(HW_GAMMA), F.lit(1 - HW_GAMMA)

    def step(acc, x):
        x1 = F.element_at(x, 1)
        xi = F.element_at(x, 2).cast("int")
        s_old = F.element_at(acc, xi + F.lit(2))
        l_old = F.element_at(acc, 1)
        b_old = F.element_at(acc, 2)
        new_l = a * (x1 - s_old) + na * (l_old + b_old)
        new_b = bb * (new_l - l_old) + nb * b_old
        new_s = g * (x1 - new_l) + ng * s_old
        return F.concat(
            F.array(new_l, new_b),
            F.transform(
                F.sequence(F.lit(1), F.lit(HW_PERIOD)),
                lambda j: F.when(j == xi, new_s).otherwise(
                    F.element_at(acc, j + F.lit(2))
                ),
            ),
        )

    items = F.transform(
        F.sequence(F.lit(2), F.col("n_train")),
        lambda i: F.array(
            F.element_at(F.col("vals"), i),
            ((i - 1) % HW_PERIOD + 1).cast("double"),
        ),
    )
    init = F.concat(
        F.array(
            F.element_at(F.col("vals"), 1),
            F.element_at(F.col("vals"), 2)
            - F.element_at(F.col("vals"), 1),
        ),
        F.array_repeat(F.lit(0.0), HW_PERIOD),
    )
    st = tr.select(
        "event_type",
        "vals",
        "n_train",
        F.aggregate(items, init, step).alias("s"),
    )
    err = st.select(
        "event_type",
        "vals",
        "n_train",
        "s",
        F.explode(F.sequence(F.lit(1), F.lit(HW_HOLDOUT))).alias("h"),
    )
    slot = ((F.col("n_train") + F.col("h") - 1) % HW_PERIOD + 1).cast(
        "int"
    )
    scored = err.select(
        "event_type",
        F.element_at(F.col("vals"), F.col("n_train") + F.col("h")).alias(
            "actual"
        ),
        (
            F.element_at("s", 1)
            + F.col("h").cast("double") * F.element_at("s", 2)
            + F.element_at(F.col("s"), slot + F.lit(2))
        ).alias("forecast"),
    )
    abs_err = F.round(F.abs(F.col("forecast") - F.col("actual")), 6)
    abs_act = F.round(F.abs(F.col("actual")), 6)
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        dsum(abs_err).alias("sum_abs_err"),
        dsum(abs_act).alias("sum_abs_actual"),
        (dsum(abs_err) / dsum(abs_act)).alias("wape"),
    )
