"""Category F — sort / limit / top-k / sampling (SURVEY §2F).

The driver's hash is order-insensitive, so ordered queries encode their
order as an explicit ROW_NUMBER position column over a unique total order
(SURVEY §7.4.4) — that makes ORDER BY semantics verifiable by multiset
compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t


@query(
    "sort_multi_key",
    oracle="""
SELECT s_suppkey, s_nationkey, s_acctbal,
       NULLIF(s_acctbal, 0) AS bal_or_null,
       CAST(ROW_NUMBER() OVER (ORDER BY s_nationkey DESC,
                               NULLIF(s_acctbal, 0) ASC NULLS LAST,
                               s_suppkey) AS BIGINT) AS pos
FROM supplier
""",
    category="F",
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY multiple keys ASC/DESC with NULLS LAST, order verified via
    the pos column (driver compare is order-insensitive)."""
    s = t(spark, sf_dir, "supplier")
    bal_or_null = F.nullif(F.col("s_acctbal"), F.lit(0.0))
    order = [
        F.col("s_nationkey").desc(),
        bal_or_null.asc_nulls_last(),
        F.col("s_suppkey"),
    ]
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        bal_or_null.alias("bal_or_null"),
        F.row_number().over(Window.orderBy(*order)).cast("bigint").alias("pos"),
    ).orderBy("pos")


@query(
    "limit_fetch_first",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    category="F",
)
def limit_fetch_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH FIRST n ROWS ONLY — deterministic because the sort is a unique
    total order (price ties broken by key)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "topk_global",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""",
    category="F",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k. Spark plans TakeOrderedAndProject: each partition
    keeps its local top-k and only k rows per partition reach the driver-
    side merge — the O(n) scalable form of ORDER BY + LIMIT (no global
    sort at 100 TB)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(100)
    )


@query(
    "sample_fraction",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE {MD5_BIGINT("concat_ws('_', l_orderkey, l_linenumber)")} % 100 < 10
""",
    category="F",
)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE-style 10% Bernoulli sampling, made *deterministic* by
    hashing the row key (md5 → 60-bit int % 100) instead of an RNG — at
    100 TB a reproducible sample is what you actually want (same rows on
    every run, any partitioning, any engine), and it lets the sample be
    hash-verified against the oracle exactly. Fraction bounds are also
    asserted in tests."""
    li = t(spark, sf_dir, "lineitem")
    hv = md5_bigint(F.concat_ws("_", "l_orderkey", "l_linenumber"))
    return li.filter(hv % 100 < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "sample_stratified_hash",
    oracle=f"""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE {MD5_BIGINT("CAST(o_orderkey AS VARCHAR)")} % 100 <
      CASE o_orderpriority WHEN '1-URGENT' THEN 50
                           WHEN '2-HIGH' THEN 20
                           ELSE 5 END
""",
    category="F",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (URGENT 50%, HIGH 20%,
    rest 5%) — the downsample-the-common-class primitive of training-data
    curation. Like ``sample_fraction``, membership is decided by hashing
    the row key, not an RNG, so the sample is identical on every run, any
    partitioning, any engine (hash-verifiable), and the filter is a pure
    row-local predicate — no shuffle, no state, embarrassingly parallel
    at any scale."""
    o = t(spark, sf_dir, "orders")
    hv = md5_bigint(F.col("o_orderkey").cast("string"))
    rate = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 50)
        .when(F.col("o_orderpriority") == "2-HIGH", 20)
        .otherwise(5)
    )
    return o.filter(hv % 100 < rate).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


PAGE_SIZE = 25
PAGE_OFFSET = 50  # page 3


@query(
    "limit_offset_pagination",
    oracle=f"""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT {PAGE_SIZE} OFFSET {PAGE_OFFSET}
""",
    category="F",
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET pagination (page 3 of a price-ranked report) — DB2's
    ``OFFSET n ROWS FETCH FIRST m ROWS ONLY``, Spark's native
    ``offset()`` (3.4+). The sort is a unique total order so every page
    is deterministic.

    Scale: Spark still only materializes offset+limit rows per partition
    before the single merge (the cheap path while offset stays
    page-sized); deep pagination at 100 TB should switch to keyset
    pagination (WHERE key > last_seen ORDER BY key LIMIT m — a pushed
    range filter instead of a growing skip), which is the same
    ``filter_comparison`` + ``limit_fetch_first`` composition."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(PAGE_OFFSET)
        .limit(PAGE_SIZE)
    )


@query(
    "sort_nulls_last_topk",
    oracle="""
SELECT o_orderkey, o_totalprice,
       nullif(o_orderpriority, '3-MEDIUM') AS prio_or_null
FROM orders
ORDER BY prio_or_null ASC NULLS LAST, o_totalprice DESC, o_orderkey
LIMIT 20
""",
    category="F",
)
def sort_nulls_last_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null-ordering in a top-k: a nullable sort expression
    (priority with the modal value nulled out) ordered ASC NULLS LAST —
    engines DISAGREE on default null placement (Spark: nulls first on
    ASC; many SQL engines: last), so portable top-k over nullable keys
    must spell the placement. Unique-key tie-break keeps the cut
    deterministic; plans as TakeOrderedAndProject like every top-k."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias(
                "prio_or_null"
            ),
        )
        .orderBy(
            F.col("prio_or_null").asc_nulls_last(),
            F.col("o_totalprice").desc(),
            "o_orderkey",
        )
        .limit(20)
    )


@query(
    "limit_fetch_with_ties",
    oracle="""
SELECT o_orderkey, o_totalprice FROM (
  SELECT o_orderkey, o_totalprice,
         rank() OVER (ORDER BY o_totalprice DESC) AS rk
  FROM orders) WHERE rk <= 5
""",
    category="F",
)
def limit_fetch_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH FIRST 5 ROWS WITH TIES semantics — the standard's
    tie-inclusive top-k (every row whose sort key equals the 5th row's
    key survives), expressed as the rank() <= k rewrite both engines
    plan identically. Unlike plain LIMIT, the result is a deterministic
    SET under ties without inventing a tie-break column.

    Scale: rank over a global order — Spark runs a single-partition
    window, acceptable because the k-th value cuts early via the rank
    filter; for huge k use the compressed-ranking spine
    (``ml_feature_quantile_bin``)."""
    w = Window.orderBy(F.col("o_totalprice").desc())
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 5)
        .select("o_orderkey", "o_totalprice")
    )


RESERVOIR_K = 1000  # exact sample size


@query(
    "sample_reservoir_hash",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
ORDER BY {MD5_BIGINT("concat_ws('_', l_orderkey, l_linenumber)")},
         l_orderkey, l_linenumber, l_quantity
LIMIT {RESERVOIR_K}
""",
    category="F",
)
def sample_reservoir_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE uniform sample (exactly k = 1000 rows) — the
    reservoir-sampling use case, made deterministic and distributed: rank
    every row by a 60-bit key hash and keep the k smallest. A hash rank
    is an i.i.d. uniform draw per distinct key, so the k minima are a
    uniform k-subset — same sample every run, any partitioning, any
    engine (unlike ``sample_fraction``, which fixes the RATE, this fixes
    the COUNT, what an eval-set builder actually needs).

    Scale: Spark plans order-by-limit as TakeOrderedAndProject — each
    partition keeps its local k smallest, the driver merges partition
    tops; no global sort, no full shuffle, O(k) memory per task at 100 TB.
    The fixture's (orderkey, linenumber) is NOT unique (duplicate line
    numbers exist), so the sort key appends every projected column —
    rows that still tie are bit-identical and therefore interchangeable
    at the cutoff on both engines (the tie-break stays NUMERIC; hashing
    the double would ride on engine float-rendering)."""
    li = t(spark, sf_dir, "lineitem")
    hv = md5_bigint(F.concat_ws("_", "l_orderkey", "l_linenumber"))
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", hv.alias("hv"))
        .orderBy("hv", "l_orderkey", "l_linenumber", "l_quantity")
        .limit(RESERVOIR_K)
        .drop("hv")
    )


# --- keyset (seek-method) pagination ---------------------------------------

KEYSET_PAGE = 20  # rows per page; the key fetches page 3

_KEYSET_ORACLE = f"""
WITH cur AS (
  SELECT o_orderdate AS c_date, o_orderkey AS c_key
  FROM orders ORDER BY o_orderdate, o_orderkey
  LIMIT 1 OFFSET {2 * KEYSET_PAGE - 1})
SELECT o_orderkey, o_orderdate, o_custkey, o_totalprice
FROM orders, cur
WHERE o_orderdate > c_date
   OR (o_orderdate = c_date AND o_orderkey > c_key)
ORDER BY o_orderdate, o_orderkey LIMIT {KEYSET_PAGE}
"""


@query("limit_keyset_pagination", oracle=_KEYSET_ORACLE, category="F")
def limit_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination — the scale-correct companion to
    ``limit_offset_pagination``: page N+1 is fetched by seeking past
    the last row of page N with the lexicographic cursor predicate
    ``(o_orderdate, o_orderkey) > (cursor)``, then taking the next
    {KEYSET_PAGE} rows. OFFSET must scan-and-discard every earlier
    page (O(N·page) at depth N — its own key documents that); the
    seek form is O(page) per request because the cursor predicate
    prunes at the scan once the cursor is a literal (here the cursor
    is computed in-query for self-containment — a 1-row broadcast).

    Deterministic: (o_orderdate, o_orderkey) is a unique total order
    (o_orderkey is unique), so the page content is exact on both
    engines.

    Scale: the page fetch plans as cursor-filter + TakeOrdered —
    per-partition heaps of {KEYSET_PAGE} rows, no global sort, no
    discarded prefix."""
    from pyspark.sql import functions as F

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey", "o_totalprice"
    )
    cur = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(2 * KEYSET_PAGE)
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_orderdate").alias("c_date"),
            F.col("o_orderkey").alias("c_key"),
        )
    )
    return (
        o.crossJoin(F.broadcast(cur))
        .filter(
            (F.col("o_orderdate") > F.col("c_date"))
            | (
                (F.col("o_orderdate") == F.col("c_date"))
                & (F.col("o_orderkey") > F.col("c_key"))
            )
        )
        .select("o_orderkey", "o_orderdate", "o_custkey", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(KEYSET_PAGE)
    )


# --- weighted reservoir sample (round 10) ---------------------------------

WRS_K = 100  # fixed sample size


_WRS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         (CAST({MD5_BIGINT("CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE)
          + 0.5) / 1000000.0 AS u
  FROM documents),
keyed AS (
  SELECT doc_id, n_chars,
         round(ln(u) / greatest(n_chars, 1), 9) AS draw_key
  FROM d)
SELECT doc_id, n_chars, draw_key,
       CAST(row_number() OVER (ORDER BY draw_key DESC, doc_id) AS INT)
         AS rank
FROM keyed
ORDER BY draw_key DESC, doc_id
LIMIT {WRS_K}
"""


@query("sample_weighted_reservoir", oracle=_WRS_ORACLE, category="F")
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED reservoir sampling (Efraimidis-Spirakis A-ES, public
    method), deterministic: each document draws an md5-uniform u and is
    ranked by ln(u)/weight (the log form of u^(1/w) — same order, no
    cross-engine pow hazard); the top-{WRS_K} keys are a
    without-replacement sample where inclusion probability scales with
    the weight (n_chars) — the token-mass-proportional sampler a corpus
    builder needs when a uniform row sample would over-represent short
    documents. Completes the sampler family: fixed-rate
    (``sample_fraction``), fixed-size uniform (``sample_reservoir_hash``),
    Bernoulli-weighted (``docs_sample_weighted``), fixed-size weighted
    (this).

    Exactness: u is exact integer arithmetic (+0.5 midpoint over 10⁶);
    ln rounds to 9dp before the cut (the geometric-mean-log
    discipline) with doc_id tie-break — a total order.

    Scale: the draw is row-local; order-by-limit plans as
    TakeOrderedAndProject (per-partition k-heaps, driver merges
    partition tops) — O(k) memory per task, no global sort, no
    shuffle of the corpus."""
    d = t(spark, sf_dir, "documents")
    u = (
        (md5_bigint(F.col("doc_id").cast("string")) % 1000000).cast("double")
        + 0.5
    ) / 1000000.0
    # greatest(n_chars, 1) on BOTH sides: a zero-weight document would
    # be NULL on Spark (div-by-zero -> NULL) but -inf in DuckDB —
    # clamping keeps the draw total-ordered under any fixture
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)), 9).alias(
            "draw_key"
        ),
    )
    w = Window.orderBy(F.col("draw_key").desc(), "doc_id")
    return (
        keyed.orderBy(F.col("draw_key").desc(), "doc_id")
        .limit(WRS_K)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )
