"""Category D — aggregation operators (SURVEY §2D).

Reference semantics: the DB2 LUW GROUP BY / super-group (ROLLUP, CUBE,
GROUPING SETS) / column-function dialect surface parsed by dbsuite
(reference checkout empty — provenance is SURVEY §0/§2, [PUBLIC,
module-level]). Execution is Spark-native: hash aggregation with automatic
partial+final (map-side combine) — no custom machinery.

Scale notes (100 TB): every aggregate here is a single shuffle on the group
keys with partial aggregation before the exchange; decimal-exact sums
(``exact.dsum``) commute across partitions so results are bit-stable under
any partitioning. No collect(), no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.exact import (
    BIGCOUNT,
    DAVG,
    DEC,
    DSUM,
    davg,
    dsum,
    md5_bigint,
)
from dbsuite_spark.registry import query
from dbsuite_spark.tables import fan_out, register_views, t

_FLAGSHIP_CUTOFF = "2001-09-02"


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): scan → filter → computed projection
    → groupBy → 8 aggregates → sort. The minimum end-to-end slice of
    SURVEY §7.3.

    The three averages are derived from the decimal sums post-aggregation
    (sum/count over NULL-free columns) instead of aggregating three more
    decimal columns: decimal sums carry a >18-digit (BigDecimal-backed)
    buffer, so cutting 7 decimal aggregates to 5 is a real saving at scale
    while producing bit-identical doubles to ``davg``."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.col("count_order")
    # fan_out: the 5 decimal partial aggregates are the CPU; a narrow
    # scan (few row groups) must not serialize them onto one core.
    # Round-14: keyed on l_orderkey — a keyless round-robin repartition
    # first LOCALLY SORTS its input so retried tasks reproduce the same
    # assignment (sortBeforeRepartition, guide §2.5); on ~600k wide
    # decimal rows that sort is real CPU. hash(l_orderkey) needs no sort
    # and spreads evenly (dense id, ~7 rows/key); the decimal sums are
    # order-independent by the exactness contract, so the result is
    # bit-identical (equality-gated at both scales).
    return (
        fan_out(li.filter(
            F.col("l_shipdate") <= F.lit(_FLAGSHIP_CUTOFF).cast("timestamp")
        ), key="l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            dsum(F.col("l_discount")).alias("sum_disc"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            (F.col("sum_qty") / n).alias("avg_qty"),
            (F.col("sum_base_price") / n).alias("avg_price"),
            (F.col("sum_disc") / n).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


FLAGSHIP_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {DSUM('l_quantity')} AS sum_qty,
       {DSUM('l_extendedprice')} AS sum_base_price,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {DAVG('l_quantity')} AS avg_qty,
       {DAVG('l_extendedprice')} AS avg_price,
       {DAVG('l_discount')} AS avg_disc,
       {BIGCOUNT()} AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_FLAGSHIP_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

query("agg_groupby_basic", oracle=FLAGSHIP_ORACLE, category="D")(flagship)


@query(
    "agg_global",
    oracle=f"""
SELECT {DSUM('o_totalprice')} AS total_revenue,
       {DAVG('o_totalprice')} AS avg_order,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_order,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_order,
       {BIGCOUNT()} AS n_orders
FROM orders
""",
    category="D",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate without GROUP BY (single global group)."""
    return t(spark, sf_dir, "orders").agg(
        dsum(F.col("o_totalprice")).alias("total_revenue"),
        davg(F.col("o_totalprice")).alias("avg_order"),
        F.min("o_totalprice").alias("min_order"),
        F.max("o_totalprice").alias("max_order"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_having",
    oracle=f"""
SELECT o_custkey, {DSUM('o_totalprice')} AS spend, {BIGCOUNT()} AS n_orders
FROM orders
GROUP BY o_custkey
HAVING SUM(CAST(o_totalprice AS DECIMAL(18,6))) > 400000
""",
    category="D",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING post-aggregation filter; decimal-exact so the threshold
    predicate is engine-stable."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            dsum(F.col("o_totalprice")).alias("spend"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("spend") > 400000)
    )


@query(
    "agg_count_distinct",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       {BIGCOUNT()} AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    category="D",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT x), multi-column. Spark expands to a two-phase
    distinct-then-count plan (expand + partial agg) automatically."""
    # Round-14: keyed fan_out MEASURED AND REJECTED (0/6 interleaved,
    # median 0.68→1.05 s): the two-phase distinct's own exchanges
    # already spread the heavy phases; an up-front exchange of the raw
    # fact rows only adds cost. Left as the standard Expand plan.
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "agg_approx_count_distinct",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact_parts,
       {BIGCOUNT()} AS n_rows,
       TRUE AS approx_within_3rsd
FROM lineitem GROUP BY l_returnflag
""",
    category="D",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB substitute for exact
    COUNT(DISTINCT). The estimate itself is engine-specific, so the
    hashed projection carries its *verdict* instead (VERDICT r02 ask #5):
    ``approx_within_3rsd`` is TRUE iff the estimate lands within 3·rsd of
    the exact count (rsd 0.02 → ±6%; HLL++ is deterministic for a given
    dataset, so the boolean is stable). The oracle asserts TRUE — an
    estimator drifting outside its advertised bound now FAILS the hash
    gate instead of hiding behind a rows-only check."""
    g = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
            F.countDistinct("l_partkey").alias("n_exact_parts"),
            F.count("*").alias("n_rows"),
        )
    )
    return g.select(
        "l_returnflag",
        "n_exact_parts",
        "n_rows",
        (
            F.abs(F.col("approx") - F.col("n_exact_parts"))
            <= 3 * 0.02 * F.col("n_exact_parts")
        ).alias("approx_within_3rsd"),
    )


_ROLLUP_ORACLE = f"""
SELECT r_name, n_name,
       {BIGCOUNT()} AS n_customers,
       {DSUM('c_acctbal')} AS total_bal,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@query("agg_rollup", oracle=_ROLLUP_ORACLE, category="D")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP super-group (DB2 'super groups'): nation subtotals, region
    subtotals, grand total. grouping_id disambiguates genuine NULL keys."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    # Round-14: keyed fan_out MEASURED AND REJECTED (0/6 interleaved,
    # median 0.46→0.58 s): customer is small enough that the one-task
    # probe+rollup beats paying an exchange to spread it.
    joined = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
        F.grouping_id().alias("gid"),
    )


_CUBE_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       {BIGCOUNT()} AS n_orders,
       {DSUM('o_totalprice')} AS revenue,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("agg_cube", oracle=_CUBE_ORACLE, category="D")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping combinations of (status, priority)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
    )


_GSETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       {BIGCOUNT()} AS n_orders,
       {DSUM('o_totalprice')} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", oracle=_GSETS_ORACLE, category="D")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (same Expand-based plan as
    rollup/cube)."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {DSUM('o_totalprice')} AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_filtered",
    oracle=f"""
SELECT l_returnflag,
       {DSUM("CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END")}
           AS high_disc_revenue,
       CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS big_qty_rows,
       {BIGCOUNT()} AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    category="D",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: SUM(CASE WHEN) / FILTER clause."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum(
            F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(
                F.lit(0.0)
            )
        ).alias("high_disc_revenue"),
        F.count(F.when(F.col("l_quantity") >= 25, F.lit(1))).alias("big_qty_rows"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_stats",
    oracle="""
SELECT l_linestatus,
       ROUND(STDDEV_SAMP(l_quantity), 3) AS sd_qty,
       ROUND(STDDEV_POP(l_quantity), 3) AS sdp_qty,
       ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 1) AS covar_qty_price
FROM lineitem
GROUP BY l_linestatus
""",
    category="D",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical column functions (DB2 OLAP funcs): STDDEV/VAR/CORR/COVAR.
    Rounded on both sides — streaming-moment algorithms agree to ~1e-12
    relative, far inside the rounding (SURVEY §7.4.1)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 3).alias("sd_qty"),
        F.round(F.stddev_pop("l_quantity"), 3).alias("sdp_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 1).alias(
            "covar_qty_price"
        ),
    )


@query(
    "agg_percentile_exact",
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99
FROM orders
GROUP BY o_orderstatus
""",
    category="D",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99). Spark `percentile`
    and DuckDB `quantile_cont` both interpolate linearly."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 6).alias("p99"),
    )


@query(
    "agg_percentile_approx",
    oracle=f"""
SELECT o_orderstatus, {BIGCOUNT()} AS n_rows,
       TRUE AS approx_within_rank_bound
FROM orders GROUP BY o_orderstatus
""",
    category="D",
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the 100 TB percentile
    path: mergeable sketch, single shuffle, bounded memory. The sketch
    value is engine-specific, so the hashed projection carries its
    *verdict* (VERDICT r02 ask #5): with accuracy 10000 the guaranteed
    rank error is 1e-4·n, so the estimate must lie between the exact
    interpolated percentiles at 0.5∓0.003 (30× slack absorbs
    interpolation off-by-ones); the oracle asserts TRUE. GK is
    deterministic for a given dataset, so the boolean is stable — and a
    sketch violating its advertised bound now fails the hash gate."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "p50a"
        ),
        F.percentile("o_totalprice", F.lit(0.497)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.503)).alias("hi"),
        F.count("*").alias("n_rows"),
    )
    return g.select(
        "o_orderstatus",
        "n_rows",
        (
            (F.col("p50a") >= F.col("lo")) & (F.col("p50a") <= F.col("hi"))
        ).alias("approx_within_rank_bound"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
SELECT l_orderkey,
       string_agg(CAST(l_linenumber AS VARCHAR), ','
                  ORDER BY l_linenumber) AS line_numbers,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY l_orderkey
""",
    category="D",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped array collection, deterministically sorted (LISTAGG analog).
    The collected array is sorted numerically then serialized with ',' —
    raw array columns crash the driver's pandas canonicalizer."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("line_numbers"),
        F.count("*").alias("n_lines"),
    )


@query(
    "agg_string_concat",
    oracle="""
SELECT c_mktsegment,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
           AS priorities
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    category="D",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG with separator, ordered + distinct."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), ","
            ).alias("priorities")
        )
    )


@query(
    "agg_count_if",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS big_values,
       {BIGCOUNT()} AS n_events
FROM events
GROUP BY event_type
""",
    category="D",
)
def agg_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if: rows matching a predicate."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("big_values"),
        F.count("*").alias("n_events"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT user_id,
       {DSUM("CASE WHEN event_type = 'click' THEN value END")} AS click,
       {DSUM("CASE WHEN event_type = 'error' THEN value END")} AS error,
       {DSUM("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
       {DSUM("CASE WHEN event_type = 'signup' THEN value END")} AS signup,
       {DSUM("CASE WHEN event_type = 'view' THEN value END")} AS view
FROM events
GROUP BY user_id
"""


@query("pivot_values", oracle=_PIVOT_ORACLE, category="D")
def pivot_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type rows → one column of sums per type. Explicit value
    list keeps the plan a single pass (no extra distinct-values job) — the
    scalable form."""
    # Round-14: keyed fan_out on the GROUPBY key — the pivot's partial
    # aggregate ran inside the one-task events scan; hash(user_id)
    # spreads it AND satisfies the groupBy distribution, so the pivot
    # plans as one wide complete aggregation with no further exchange.
    e = fan_out(t(spark, sf_dir, "events"), key="user_id")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(dsum(F.col("value")))
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    category="D",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through Spark's bitmap aggregate family
    (``bitmap_bucket_number`` / ``bitmap_construct_agg`` /
    ``bitmap_count``) — the roaring-bitmap-style rollup trick: ids map to
    (bucket, bit) positions, each bucket ORs its bits into one 4 KB
    bitmap, and cardinality is the sum of popcounts. Unlike
    ``approx_count_distinct`` this is exact, and unlike
    ``COUNT(DISTINCT)`` the partial state is a fixed-width bitmap that
    merges by OR — commutative, map-side combinable, and REUSABLE: stored
    per (day, key) bitmaps roll up to any coarser period without
    re-touching the fact table, which is why warehouses precompute
    exactly this shape at 100 TB. The oracle is plain COUNT(DISTINCT) —
    mechanism differs, result is bit-equal.

    Scale: shuffle carries (type, bucket → bitmap) rows, bounded by
    keys × (id_range / 32768), independent of row count; dense id spaces
    are the sweet spot (sparse ones pay 4 KB per non-empty bucket —
    then HLL is the fallback)."""
    e = t(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


CMS_DEPTH = 4  # hash rows
CMS_WIDTH = 2048  # cells per row; additive error <= N * e / width


@query(
    "agg_count_min_sketch",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS exact_n,
       TRUE AS est_ge_exact,
       TRUE AS est_within_eps
FROM events GROUP BY event_type
""",
    category="D",
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode-Muthukrishnan, the
    streaming heavy-hitter sketch), built natively in DataFrame algebra:
    each occurrence folds into a depth x width integer grid via
    ``xxhash64(key, row_seed) % width`` — the grid IS a grouped count, so
    partials merge by cellwise ADD (commutative, map-side combinable,
    constant bytes over the shuffle at any N); a key's estimate is the
    MIN of its depth cells. Like the HLL key, the hashed projection
    carries the *verdict*, not the engine-specific estimate: CM
    guarantees estimate >= exact always, and the e/width relative slack
    holds with overwhelming probability for depth 4 — both booleans are
    deterministic for the fixed seeds, so the oracle's TRUE/TRUE makes a
    bound violation fail the hash gate.

    Scale: the grid is bounded by depth x width cells regardless of
    stream size, queries join a K-row key list against depth rows each —
    the 100 TB answer to 'how often do these K items occur' in one pass
    with constant memory, mergeable across partitions and days."""
    import math as _m

    e = t(spark, sf_dir, "events")
    seeds = F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    cells = (
        e.select(F.explode(seeds).alias("j"), F.col("event_type"))
        .select(
            "j",
            "event_type",
            F.pmod(
                F.xxhash64(F.col("event_type"), F.col("j")), CMS_WIDTH
            ).alias("cell"),
        )
    )
    # The sketch: (j, cell) -> count. Key identity is NOT stored -- only
    # hashed positions, exactly like the real data structure.
    grid = cells.groupBy("j", "cell").agg(F.count("*").alias("c"))
    # Query side: the 5 keys' cells, joined against the grid, min over j.
    keys = e.groupBy("event_type").agg(F.count("*").alias("exact_n"))
    probes = keys.select(
        "event_type",
        "exact_n",
        F.explode(seeds).alias("j"),
    ).withColumn(
        "cell",
        F.pmod(F.xxhash64(F.col("event_type"), F.col("j")), CMS_WIDTH),
    )
    est = (
        probes.join(grid, ["j", "cell"])
        .groupBy("event_type", "exact_n")
        .agg(F.min("c").alias("estimate"))
    )
    total = e.count()
    slack = _m.e / CMS_WIDTH * total  # classic CM bound with w = e/eps
    return est.select(
        "event_type",
        "exact_n",
        (F.col("estimate") >= F.col("exact_n")).alias("est_ge_exact"),
        (F.col("estimate") <= F.col("exact_n") + F.lit(slack)).alias(
            "est_within_eps"
        ),
    )


@query(
    "unpivot_stack",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS amount
FROM lineitem WHERE l_orderkey % 10 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey % 10 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount
FROM lineitem WHERE l_orderkey % 10 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax
FROM lineitem WHERE l_orderkey % 10 = 0
""",
    category="D",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT — wide-to-long melt, the inverse of ``pivot_values``: the
    four lineitem measure columns become (measure, amount) rows keyed by
    the line id. Uses the native ``DataFrame.unpivot`` (SQL ``stack``)
    operator, which Catalyst expands to a generator projection — one
    narrow pass, output = 4× input rows, zero shuffle (the oracle
    states the same semantics as a 4-way UNION ALL, which is what melt
    IS relationally).

    Scale: row-local generation inherits the scan's partitioning; the
    only cost is output volume, which is the operator's contract. The
    mod-10 filter is pushed to the scan on both engines."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "amount",
    ).select(
        "l_orderkey",
        "l_linenumber",
        # the fixture column prefix is storage detail, not measure name
        F.expr("substr(measure, 3)").alias("measure"),
        "amount",
    )


@query(
    "sql_transpose_frame",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           AS sum_price,
         CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag)
SELECT 'n_rows' AS key,
       (SELECT n_rows FROM m WHERE l_returnflag = 'A') AS A,
       (SELECT n_rows FROM m WHERE l_returnflag = 'N') AS N,
       (SELECT n_rows FROM m WHERE l_returnflag = 'R') AS R
UNION ALL
SELECT 'sum_price',
       (SELECT sum_price FROM m WHERE l_returnflag = 'A'),
       (SELECT sum_price FROM m WHERE l_returnflag = 'N'),
       (SELECT sum_price FROM m WHERE l_returnflag = 'R')
UNION ALL
SELECT 'sum_qty',
       (SELECT sum_qty FROM m WHERE l_returnflag = 'A'),
       (SELECT sum_qty FROM m WHERE l_returnflag = 'N'),
       (SELECT sum_qty FROM m WHERE l_returnflag = 'R')
""",
    category="D",
)
def sql_transpose_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSPOSE — the Spark 4 ``DataFrame.transpose`` reshape: a
    metrics-by-group frame (3 returnflag rows × 3 measure columns)
    flips to measure rows × group columns, the layout reporting tools
    want. The index column's values become column names (sorted — the
    operator's documented determinism), so the output schema is stable
    because the flag domain is. All measures share one type (double,
    exact via decimal sums / integer counts — the ``exact.py``
    discipline), which is transpose's type-soundness requirement.

    Scale: transpose collects the frame to build the schema, so its
    contract is REPORT-SIZED inputs only — here 3 rows from a map-side
    combined aggregation of the full corpus; the heavy lifting stays
    distributed in the groupBy, the flip touches a 3×4 grid. The oracle
    states the same reshape as scalar subqueries per (measure, flag)
    cell."""
    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return m.transpose()


SALT_BUCKETS = 16  # two-stage salt fan-out per hot key


@query(
    "agg_salted_two_stage",
    oracle=f"""
SELECT l_returnflag,
       {BIGCOUNT("*")} AS n_rows,
       {DSUM("l_quantity")} AS sum_qty,
       {DSUM("l_extendedprice")} AS sum_price
FROM lineitem GROUP BY l_returnflag
""",
    category="D",
)
def agg_salted_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT two-stage salted aggregation — the hand-rolled skew
    mitigation for when a grouping key is so hot that even map-side
    partial aggregation leaves one reducer holding most of the data
    (l_returnflag has 3 values, the worst case: every row lands on
    three reducers no matter how many executors exist). Stage 1 groups
    by (key, salt) with a deterministic {SALT_BUCKETS}-way salt from a
    row hash, spreading each hot key over {SALT_BUCKETS} reducers;
    stage 2 merges the per-salt partials by key alone. Counts and
    decimal sums are MERGEABLE, ORDER-FREE state (the SCALE.md rule),
    so the result is bit-identical to the direct single-stage plan —
    which is exactly what the oracle computes.

    This is the same rewrite AQE's skew-join handling applies to
    joins, expressed for aggregation where Spark offers no automatic
    equivalent when partials alone can't tame the reducer (think
    collect_list/percentile state instead of sums, or a 3-value key at
    100 TB).

    Scale: shuffle 1 is (key × salt)-wide — parallelism {SALT_BUCKETS}×
    the key cardinality; shuffle 2 moves only key × salt partial rows
    (a few dozen). The salt is md5-derived from the full row key, so
    placement is deterministic and partition-invariant."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
    )
    salted = li.withColumn(
        "salt",
        (
            md5_bigint(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % SALT_BUCKETS
        ).cast("int"),
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").cast("bigint").alias("pn"),
        F.sum(F.col("l_quantity").cast(DEC)).alias("pq"),
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("pp"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").cast("bigint").alias("n_rows"),
        F.sum("pq").cast("double").alias("sum_qty"),
        F.sum("pp").cast("double").alias("sum_price"),
    )
