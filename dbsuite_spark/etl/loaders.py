"""Category K — bulk load / export / upsert / SCD2 / schema evolution
(SURVEY §2K): the dbexec bulk-ETL core, re-expressed Spark-first.

Reference semantics: DB2 ``LOAD``/``IMPORT``/``EXPORT`` orchestration and
MERGE-based warehouse maintenance that dbexec scripted [PUBLIC,
module-level; checkout empty — SURVEY §0].

Scale design:
- Bulk load reads PERMISSIVE with a corrupt-record column: bad records are
  routed, never fail the job — at 100 TB a load must quarantine, not abort.
- MERGE has no row-level op on plain Parquet, so it is rewritten as a
  full-outer join + rewrite (SURVEY §4 gap (a)); the join shuffles both
  sides by the merge key once — the minimum possible data movement.
- SCD2 is a union of three branch-projections of one scan each — no
  windows, no self-join, so it stays two map-side passes at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbsuite_spark.etl import tablelog
from dbsuite_spark.etl.io import artifact_path
from dbsuite_spark.exact import BIGCOUNT, DSUM, dsum
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@query(
    "etl_bulk_load",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    category="K",
)
def etl_bulk_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DB2 ``LOAD`` with bad-record routing: delimited input (headerless, as
    LOAD takes it) + 2 deterministically-injected corrupt lines → PERMISSIVE
    parse with ``_corrupt_record`` → rejects quarantined to a reject file,
    clean rows written as the typed Parquet table and returned. The oracle
    is the source table: the load must be exactly lossless minus rejects."""
    csv_dir = artifact_path(sf_dir, "customer_load_csv")
    src = t(spark, sf_dir, "customer").select(*[f.name for f in CUSTOMER_SCHEMA])
    src.write.mode("overwrite").csv(csv_dir)
    # Corrupt lines: wrong types in key/acctbal → PERMISSIVE flags them.
    with open(os.path.join(csv_dir, "zz_bad_batch.csv"), "w") as fh:
        fh.write("not_a_key,Bad Row,xx,not_a_double,SEG\n")
        fh.write("also_bad,Another,zz,1e999x,SEG\n")

    load_schema = T.StructType(
        list(CUSTOMER_SCHEMA) + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.schema(load_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(csv_dir)
    ).cache()  # one parse feeds both the reject route and the clean route

    rejects = raw.filter(F.col("_corrupt_record").isNotNull())
    rejects.select("_corrupt_record").write.mode("overwrite").json(
        artifact_path(sf_dir, "customer_load_rejects")
    )

    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    out = artifact_path(sf_dir, "customer_loaded_parquet")
    good.write.mode("overwrite").parquet(out)
    raw.unpersist()
    return spark.read.parquet(out)


@query(
    "etl_export",
    oracle=f"""
SELECT n_name,
       {DSUM('o_totalprice')} AS total_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    category="K",
)
def etl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DB2 ``EXPORT ... OF DEL``: query result → header CSV → typed
    read-back (the file is the deliverable; reading it back proves it)."""
    o, c, n = (
        t(spark, sf_dir, "orders"),
        t(spark, sf_dir, "customer"),
        t(spark, sf_dir, "nation"),
    )
    result = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    path = artifact_path(sf_dir, "revenue_export_csv")
    result.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_name", T.StringType()),
            T.StructField("total_revenue", T.DoubleType()),
            T.StructField("n_orders", T.LongType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(path)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: list[str],
) -> DataFrame:
    """MERGE INTO rewrite for plain Parquet (SURVEY §4 gap (a)): one
    full-outer join on the merge key; matched rows take source values for
    ``update_cols``, source-only rows insert, target-only rows carry over.
    Exactly one shuffle of each side; Delta/Iceberg would replace this with
    row-level ops but the logical semantics are identical."""
    s = source.select(key, *update_cols)
    s_renamed = s.select(
        F.col(key).alias(f"__src_{key}"),
        *[F.col(c).alias(f"__src_{c}") for c in update_cols],
    )
    joined = target.join(
        s_renamed, target[key] == s_renamed[f"__src_{key}"], "full"
    )
    out_cols: list[Column] = [
        F.coalesce(target[key], s_renamed[f"__src_{key}"]).alias(key)
    ]
    for c in target.columns:
        if c == key:
            continue
        if c in update_cols:
            out_cols.append(
                F.coalesce(s_renamed[f"__src_{c}"], target[c]).alias(c)
            )
        else:
            out_cols.append(target[c].alias(c))
    return joined.select(*out_cols)


@query(
    "etl_merge_upsert",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey,
       CASE WHEN s_suppkey % 10 = 0 THEN s_acctbal + 1000 ELSE s_acctbal END
           AS s_acctbal
FROM supplier
UNION ALL
SELECT s_suppkey + 1000000 AS s_suppkey, 'NEW ' || s_name AS s_name,
       s_nationkey, 0.0 AS s_acctbal
FROM supplier WHERE s_suppkey % 10 = 0
""",
    category="K",
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert a dimension): suppliers with key%10=0 get +1000
    acctbal (WHEN MATCHED UPDATE) and a mirrored new supplier row (WHEN NOT
    MATCHED INSERT). The oracle states the expected post-state."""
    sup = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    changed = sup.filter(F.col("s_suppkey") % 10 == 0)
    updates = changed.select(
        "s_suppkey", "s_name", "s_nationkey",
        (F.col("s_acctbal") + 1000).alias("s_acctbal"),
    )
    inserts = changed.select(
        (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
        F.concat(F.lit("NEW "), F.col("s_name")).alias("s_name"),
        "s_nationkey",
        F.lit(0.0).alias("s_acctbal"),
    )
    source = updates.unionByName(inserts)
    merged = merge_upsert(
        sup, source, "s_suppkey", ["s_name", "s_nationkey", "s_acctbal"]
    )
    out = artifact_path(sf_dir, "supplier_merged_parquet")
    merged.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    attrs: list[str],
    effective: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2: close the current version of each
    changed key (valid_to = effective) and open a new version. ``dim`` must
    carry valid_from/valid_to/is_current. Anti/semi joins broadcast the
    (small) change batch against the dimension — no full shuffle of dim."""
    eff = F.lit(effective).cast("date")
    high = F.lit("9999-12-31").cast("date")
    unchanged = dim.join(changes.select(key), on=key, how="left_anti")
    closed = (
        dim.join(changes.select(key), on=key, how="left_semi")
        .withColumn("valid_to", eff)
        .withColumn("is_current", F.lit(False))
    )
    opened = changes.select(
        key,
        *attrs,
        eff.alias("valid_from"),
        high.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(closed).unionByName(opened)


@query(
    "etl_scd2_dimension",
    oracle="""
SELECT c_custkey, c_mktsegment, DATE '1990-01-01' AS valid_from,
       CASE WHEN c_custkey % 7 = 0 THEN DATE '2000-01-01'
            ELSE DATE '9999-12-31' END AS valid_to,
       (c_custkey % 7 <> 0) AS is_current
FROM customer
UNION ALL
SELECT c_custkey, 'UPDATED' AS c_mktsegment, DATE '2000-01-01' AS valid_from,
       DATE '9999-12-31' AS valid_to, true AS is_current
FROM customer WHERE c_custkey % 7 = 0
""",
    category="K",
)
def etl_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 load: customers with key%7=0 change segment on 2000-01-01 →
    their 1990 version closes, a new current version opens. The oracle
    states the full expected post-state of the versioned dimension."""
    cust = t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("UPDATED").alias("c_mktsegment")
    )
    return scd2_apply(
        dim, changes, "c_custkey", ["c_mktsegment"], "2000-01-01"
    )


@query(
    "etl_schema_evolution",
    oracle="""
SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 2 = 1
""",
    category="K",
)
def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Appends with an added column: batch 1 lacks o_orderstatus, batch 2
    carries it; ``mergeSchema`` unifies the footer schemas and back-fills
    NULL — the Parquet-native path for evolving 100 TB fact tables without
    a rewrite."""
    o = t(spark, sf_dir, "orders")
    batch1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    batch2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = artifact_path(sf_dir, "orders_evolving_parquet")
    batch1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    batch2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
    df = spark.read.option("mergeSchema", True).parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
    )
    return df.select("o_orderkey", "o_totalprice", "o_orderstatus")


@query(
    "etl_snapshot_diff",
    oracle="""
WITH snap1 AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
snap2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 11 = 0 THEN 'CHANGED'
              ELSE c_mktsegment END AS c_mktsegment,
         c_acctbal
  FROM customer
  WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 17 = 0)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN b.c_custkey IS NULL THEN 'removed'
            WHEN a.c_custkey IS NULL THEN 'added'
            ELSE 'changed' END AS change_type
FROM snap1 a FULL OUTER JOIN snap2 b ON a.c_custkey = b.c_custkey
WHERE b.c_custkey IS NULL
   OR a.c_custkey IS NULL
   OR a.c_mktsegment <> b.c_mktsegment
   OR a.c_acctbal <> b.c_acctbal
""",
    category="K",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the data-ops audit between two loads of the same
    table (what a Delta CDF or temporal table would answer; here computed
    from first principles): a FULL OUTER join on the key classifies every
    row as added / removed / changed, with unchanged rows dropped. The
    second snapshot is synthesized deterministically from the first
    (13-multiples deleted, 11-multiples re-segmented, 17-multiples
    re-keyed as inserts).

    Scale: one co-partitioned full-outer hash join on the key plus
    row-local column comparisons — the same single-shuffle plan diffing
    two 100 TB snapshots; per-column change attribution just widens the
    projection."""
    snap1 = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = snap1
    snap2 = (
        base.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 11 == 0, "CHANGED")
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            "c_acctbal",
        )
        .unionAll(
            base.filter(F.col("c_custkey") % 17 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                "c_mktsegment",
                "c_acctbal",
            )
        )
    )
    a = snap1.alias("a")
    b = snap2.alias("b")
    joined = a.join(
        b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer"
    )
    change = (
        F.when(F.col("b.c_custkey").isNull(), "removed")
        .when(F.col("a.c_custkey").isNull(), "added")
        .otherwise("changed")
    )
    return joined.filter(
        F.col("b.c_custkey").isNull()
        | F.col("a.c_custkey").isNull()
        | (F.col("a.c_mktsegment") != F.col("b.c_mktsegment"))
        | (F.col("a.c_acctbal") != F.col("b.c_acctbal"))
    ).select(
        F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias(
            "c_custkey"
        ),
        change.alias("change_type"),
    )


SK_BUCKET_W = 1000  # orderkey range per id-assignment bucket


@query(
    "etl_surrogate_keys",
    oracle="""
SELECT o_orderkey,
       CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT)
           AS surrogate_id
FROM orders
""",
    category="K",
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment at load (DB2 IDENTITY / sequence
    analog), done the way that scales: a single global ``row_number``
    window is one partition — the classic 100 TB mistake — so instead
    the key space is cut into deterministic range buckets, per-bucket
    counts roll into cumulative offsets (a window over the tiny bucket
    table), and each row's id is its bucket offset plus its rank WITHIN
    the bucket (a window bounded by bucket size). Result is identical to
    the global row_number, but no stage ever sees more than a bucket.
    ``monotonically_increasing_id`` is the nondeterministic alternative
    the no-nondeterminism contract forbids (ids change with
    partitioning).

    Scale: one pass for bucket counts (map-side combine), a broadcast of
    the offsets, one bucket-partitioned window — the id assignment
    recomputes identically on any cluster layout."""
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    bucket = F.expr(f"o_orderkey div {SK_BUCKET_W}")
    rows = o.withColumn("bucket", bucket)
    counts = rows.groupBy("bucket").agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window as W

    offsets = counts.select(
        "bucket",
        (
            F.sum("n").over(
                W.orderBy("bucket").rowsBetween(
                    W.unboundedPreceding, -1
                )
            )
        ).alias("offset"),
    ).fillna({"offset": 0})
    w_local = W.partitionBy("bucket").orderBy("o_orderkey")
    return (
        rows.join(F.broadcast(offsets), "bucket")
        .select(
            "o_orderkey",
            (
                F.col("offset") + F.row_number().over(w_local)
            ).cast("bigint").alias("surrogate_id"),
        )
    )


LATE_DIM_MOD = 50  # c_custkey % 50 == 0 → dimension row "not yet arrived"


@query(
    "etl_late_arriving_dim",
    oracle=f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey % {LATE_DIM_MOD} <> 0)
SELECT o.o_orderkey,
       CAST(COALESCE(d.c_custkey, -1) AS BIGINT) AS custkey_effective,
       COALESCE(d.c_mktsegment, 'UNKNOWN') AS segment,
       d.c_custkey IS NULL AS is_late
FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
""",
    category="K",
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling — the warehouse-load pattern for
    facts that reference dimension rows not yet ingested: instead of
    dropping or stalling the fact load, orphaned facts take the inferred
    placeholder member (surrogate −1 / 'UNKNOWN'), flagged so the next
    dimension load can re-point them (the SCD counterpart is
    ``etl_scd2_dimension``). Lateness is synthesized deterministically
    (every {LATE_DIM_MOD}th dimension row withheld) so the fixture
    actually exercises the placeholder path.

    Scale: one left join on the dimension key (broadcast when the dim
    fits, shuffle otherwise — Catalyst's choice); placeholder injection
    is row-local COALESCE, no second pass."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % LATE_DIM_MOD != 0)
        .select("c_custkey", "c_mktsegment")
    )
    j = o.join(dim, o.o_custkey == dim.c_custkey, "left")
    return j.select(
        "o_orderkey",
        F.coalesce(F.col("c_custkey"), F.lit(-1))
        .cast("long")
        .alias("custkey_effective"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
            "segment"
        ),
        F.col("c_custkey").isNull().alias("is_late"),
    )


DUP_MOD = 7  # every 7th order re-delivered (at-least-once duplication)


@query(
    "etl_idempotent_load",
    oracle=f"""
WITH feed AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(0 AS BIGINT) AS ingest_seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(1 AS BIGINT)
  FROM orders WHERE o_orderkey % {DUP_MOD} = 0)
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CAST(n_deliveries AS BIGINT) AS n_deliveries
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY ingest_seq DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderkey) AS n_deliveries
  FROM feed) WHERE rn = 1
""",
    category="K",
)
def etl_idempotent_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent load under at-least-once delivery — the ingestion
    pattern for streams/queues that can redeliver: the feed arrives with
    duplicates (every {DUP_MOD}th order redelivered with a higher
    ingest sequence, synthesized deterministically), and the load keeps
    exactly one row per business key — the LATEST delivery — while
    recording how many deliveries were seen. One window over the
    business key; exactly-once tables emerge from at-least-once feeds
    without a distributed transaction.

    Scale: one hash shuffle on the business key; the dedup window and
    the delivery count share it. This is the batch twin of
    ``stream_dedup_watermark`` (which bounds the same dedup with a
    watermark when the feed is unbounded)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    feed = o.withColumn("ingest_seq", F.lit(0).cast("long")).unionByName(
        o.filter(F.col("o_orderkey") % DUP_MOD == 0).withColumn(
            "ingest_seq", F.lit(1).cast("long")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderkey").orderBy(F.col("ingest_seq").desc())
    wc = Window.partitionBy("o_orderkey")
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .withColumn("n_deliveries", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("n_deliveries").cast("long").alias("n_deliveries"),
        )
    )


@query(
    "etl_calendar_dim",
    oracle="""
WITH b AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders),
days AS (
  SELECT CAST(ts AS DATE) AS d
  FROM b, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) t(ts))
SELECT CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INT) AS date_key,
       d,
       CAST(year(d) AS INT) AS year,
       CAST(quarter(d) AS INT) AS quarter,
       CAST(month(d) AS INT) AS month,
       CAST(day(d) AS INT) AS day,
       CAST(isodow(d) - 1 AS INT) AS weekday,
       isodow(d) >= 6 AS is_weekend,
       d = last_day(d) AS is_month_end
FROM days
""",
    category="K",
)
def etl_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation — the warehouse staple every star
    schema joins against: one row per day spanning the fact table's date
    range (derived from the data, not hard-coded), with the standard
    attributes (smart key, year/quarter/month/day, ISO weekday, weekend
    and month-end flags). Weekday uses the ISO convention on both
    engines (Monday = 0 after the −1 shift) — Spark's ``dayofweek`` is
    Sunday-based and deliberately avoided.

    Scale: one scalar min/max aggregation over the fact scan, then
    row-local ``sequence`` generation of a few thousand rows — the dim
    is broadcast-sized by construction at any fact-table scale."""
    o = t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    return days.select(
        (
            F.year("d") * 10000 + F.month("d") * 100 + F.dayofmonth("d")
        )
        .cast("int")
        .alias("date_key"),
        "d",
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        F.month("d").cast("int").alias("month"),
        F.dayofmonth("d").cast("int").alias("day"),
        F.weekday("d").cast("int").alias("weekday"),
        (F.weekday("d") >= 5).alias("is_weekend"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
    )


@query(
    "etl_scd3_dimension",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END
           AS c_mktsegment,
       CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment END
           AS prev_mktsegment,
       CASE WHEN c_custkey % 7 = 0 THEN DATE '2000-01-01' END
           AS changed_on
FROM customer
""",
    category="K",
)
def etl_scd3_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 3: instead of SCD2's row
    versioning, each key stays ONE row and the prior value moves into a
    ``prev_`` column with a change date — the pattern for dimensions
    where only the immediately-previous state matters. Same synthesized
    change batch as etl_scd2_dimension (keys ≡ 0 mod 7 re-segment on
    2000-01-01); unchanged keys carry NULL prev/changed_on.

    Scale: one broadcast left join of the (small) change batch against
    the dimension — no dim shuffle, no version explosion; the artifact
    round-trips through parquet like the other loaders."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    changes = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("UPDATED").alias("new_seg"),
        F.lit("2000-01-01").cast("date").alias("eff"),
    )
    out = (
        c.join(F.broadcast(changes), c.c_custkey == changes.k, "left")
        .select(
            "c_custkey",
            F.coalesce("new_seg", "c_mktsegment").alias("c_mktsegment"),
            F.when(F.col("k").isNotNull(), F.col("c_mktsegment")).alias(
                "prev_mktsegment"
            ),
            F.col("eff").alias("changed_on"),
        )
    )
    path = artifact_path(sf_dir, "customer_scd3_parquet")
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --- manifest-based snapshot versioning (time travel) ----------------------

_TT_ORACLE = f"""
SELECT CAST(0 AS INT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {DSUM('o_totalprice')} AS sum_total
FROM orders
UNION ALL
SELECT CAST(1 AS INT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {DSUM('o_totalprice')} AS sum_total
FROM orders WHERE o_orderstatus <> 'F'
"""


@query("etl_time_travel_read", oracle=_TT_ORACLE, category="K")
def etl_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning with AS-OF reads on plain Parquet — the
    poor-man's Delta/Iceberg this environment permits (no table-format
    package installable; documented in SURVEY §7.4#7), built from the
    two primitives those formats actually rest on: immutable versioned
    data directories and an ATOMICALLY swapped manifest pointer
    (written to a temp file, then ``os.replace`` — POSIX-atomic, so a
    concurrent reader sees the old or the new manifest, never a torn
    one). Version 0 is the full orders snapshot; version 1 applies a
    delete batch (open 'F'-status orders retired). The key reads BOTH
    versions back through the manifest — the time-travel query a 100 TB
    deployment runs for audits and reproducible training snapshots —
    and reduces each to (n_rows, decimal-exact total).

    What this does NOT give (and Delta would): conflict detection for
    concurrent WRITERS and file-level pruning stats. The read path,
    version pinning, and atomic pointer swap are the real semantics.

    Scale: snapshots are written once per version (immutable); the
    as-of read is an ordinary pruned Parquet scan of that version's
    directory — no merge-on-read cost for this copy-on-write layout."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_orders/manifest.json")
    tt_dir = os.path.dirname(root)
    v0 = os.path.join(tt_dir, "v0")
    v1 = os.path.join(tt_dir, "v1")
    base.write.mode("overwrite").parquet(v0)
    base.filter(F.col("o_orderstatus") != "F").write.mode(
        "overwrite"
    ).parquet(v1)
    tablelog.publish_json(
        root, {"current": 1, "versions": {"0": v0, "1": v1}}
    )

    manifest = tablelog.read_json(root)

    def read_version(v: int) -> DataFrame:
        return spark.read.parquet(manifest["versions"][str(v)])

    frames = [
        read_version(v).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_total"),
        ).select(
            F.lit(v).cast("int").alias("version"), "n_rows", "sum_total"
        )
        for v in (0, 1)
    ]
    return frames[0].unionAll(frames[1])


_TT_EXPIRE_ORACLE = """
SELECT CAST(0 AS INT) AS version, 'expired' AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
UNION ALL
SELECT CAST(1 AS INT) AS version, 'retained' AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders WHERE o_orderstatus <> 'F'
UNION ALL
SELECT CAST(2 AS INT) AS version, 'retained' AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 0
"""

TT_RETAIN_LAST = 2  # snapshots kept by the retention policy


@query("etl_time_travel_expire", oracle=_TT_EXPIRE_ORACLE, category="K")
def etl_time_travel_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RETENTION over the manifest substrate (VERDICT r08 ask
    #6) — the expire/vacuum half of the time-travel machinery that
    ``etl_time_travel_read`` only reads: three immutable versions are
    written (v0 full orders; v1 retires open 'F' orders; v2 further
    retires keys ≡ 0 mod 10), per-snapshot row-count stats are recorded
    IN the manifest at write time (the audit metadata that must survive
    data deletion), then the retention policy keeps the newest
    {TT_RETAIN_LAST} versions: older snapshot directories are deleted
    from disk and the manifest is atomically rewritten (temp file +
    ``os.replace``) with the survivors plus an ``expired`` audit list.

    The report is the real proof obligation: expired versions answer
    from MANIFEST STATS (their data is gone — that the count is still
    servable is the point of write-time stats); retained versions are
    RE-READ through the post-expire manifest and re-counted, proving
    expiry didn't touch live data. Both paths hash against the same
    SQL oracle, so a stats/data mismatch on either side fails the gate.

    Scale: each snapshot is written once (copy-on-write, like
    ``etl_time_travel_read``); expiry is a driver-side metadata
    operation plus directory deletes — no data is read to expire; the
    retained re-reads are pruned single-column parquet scans."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_expire/manifest.json")
    tt_dir = os.path.dirname(root)
    snapshots = {
        0: base,
        1: base.filter(F.col("o_orderstatus") != "F"),
        2: base.filter(
            (F.col("o_orderstatus") != "F")
            & (F.col("o_orderkey") % 10 != 0)
        ),
    }
    versions: dict[str, dict] = {}
    for v, df in snapshots.items():
        path = os.path.join(tt_dir, f"v{v}")
        df.write.mode("overwrite").parquet(path)
        # write-time stats: the one number a manifest must keep so
        # expired snapshots stay auditable after their data is gone
        versions[str(v)] = {"path": path, "n_rows": df.count()}
    tablelog.publish_json(
        root, {"current": 2, "versions": versions, "expired": []}
    )

    # retention: keep the newest TT_RETAIN_LAST versions, expire the rest
    manifest = tablelog.read_json(root)
    ordered = sorted(manifest["versions"], key=int)
    keep = set(ordered[-TT_RETAIN_LAST:])
    expired = [v for v in ordered if v not in keep]
    for v in expired:
        _shutil.rmtree(manifest["versions"][v]["path"], ignore_errors=True)
    new_manifest = {
        "current": manifest["current"],
        "versions": {v: manifest["versions"][v] for v in keep},
        "expired": [
            {"version": int(v), "n_rows": manifest["versions"][v]["n_rows"]}
            for v in expired
        ],
    }
    tablelog.publish_json(root, new_manifest)  # old-or-new, never torn

    post = tablelog.read_json(root)
    assert all(
        not os.path.exists(manifest["versions"][v]["path"]) for v in expired
    ), "expired snapshot data must be deleted from disk"

    expired_report = spark.createDataFrame(
        [(e["version"], "expired", e["n_rows"]) for e in post["expired"]],
        "version int, status string, n_rows bigint",
    )
    retained = [
        spark.read.parquet(post["versions"][v]["path"])
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .select(
            F.lit(int(v)).cast("int").alias("version"),
            F.lit("retained").alias("status"),
            "n_rows",
        )
        for v in sorted(post["versions"], key=int)
    ]
    out = expired_report
    for fr in retained:
        out = out.unionAll(fr)
    return out


_OCC_ORACLE = """
SELECT 'A' AS writer, CAST(1 AS INT) AS attempt,
       CAST(1 AS INT) AS base_version, 'committed' AS outcome,
       CAST(2 AS INT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders WHERE o_orderstatus <> 'F'
UNION ALL
SELECT 'B' AS writer, CAST(1 AS INT) AS attempt,
       CAST(1 AS INT) AS base_version, 'conflict' AS outcome,
       CAST(2 AS INT) AS version, CAST(NULL AS BIGINT) AS n_rows
UNION ALL
SELECT 'B' AS writer, CAST(2 AS INT) AS attempt,
       CAST(2 AS INT) AS base_version, 'committed' AS outcome,
       CAST(3 AS INT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders WHERE o_orderstatus <> 'F' AND o_totalprice < 200000
"""


@query("etl_occ_write_conflict", oracle=_OCC_ORACLE, category="K")
def etl_occ_write_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency WRITE-CONFLICT detection on the manifest
    substrate (VERDICT r08 ask #6's second option) — the two-writer
    probe that proves the commit protocol a table format rests on:
    version numbers are claimed by a marker record published with ONE
    ``os.link`` (``tablelog.claim_json`` — link(2) fails if the name
    exists, so exactly one claimant can win), so
    a writer whose base version moved underneath it FAILS its commit
    instead of silently clobbering the other writer's snapshot, then
    retries against the new base (rebase-and-reapply, Delta/Iceberg's
    documented conflict resolution).

    The simulated race: writers A and B both read the manifest at
    version 1. A commits version 2 (retires open 'F' orders). B —
    still holding base 1 — attempts version 2, loses the marker claim
    (conflict row), re-reads the manifest, re-applies its transform
    (price cap) to A's committed data, and commits version 3. The
    report carries every attempt; committed row counts are re-read
    through the final manifest, so a torn or clobbered manifest fails
    the hash gate.

    Scale: commits are O(1) driver-side metadata ops (one exclusive
    link + one atomic rename each); the loser's retry re-applies a
    pushed filter to the winner's snapshot — one pruned scan, no
    re-read of history."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_occ/manifest.json")
    occ_dir = os.path.dirname(root)
    _shutil.rmtree(occ_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(occ_dir, exist_ok=True)

    # version 1: the shared base snapshot
    v1 = os.path.join(occ_dir, "v1")
    base.write.mode("overwrite").parquet(v1)
    tablelog.publish_json(root, {"current": 1, "versions": {"1": v1}})

    # both writers snapshot the manifest at version 1 (the race window)
    seen_a = tablelog.read_json(root)
    seen_b = tablelog.read_json(root)
    attempts = []

    def attempt_commit(writer, attempt_no, seen, predicate, suffix=""):
        """One writer's commit attempt against its snapshotted base.
        The outcome row is DERIVED from the claim's result — commit the
        manifest only on a won claim, record 'conflict' on a lost one —
        so the protocol runs (and is measured) even under ``python -O``
        (ADVICE r09 #1)."""
        target = seen["current"] + 1
        out = os.path.join(occ_dir, f"v{target}{suffix}")
        spark.read.parquet(
            seen["versions"][str(seen["current"])]
        ).filter(predicate).write.mode("overwrite").parquet(out)
        # the whole OCC primitive: exactly one writer wins each version
        claimed = tablelog.claim_json(
            os.path.join(occ_dir, f"commit-v{target}.marker"),
            {"version": target},
        )
        if claimed:
            m = tablelog.read_json(root)
            m["versions"][str(target)] = out
            m["current"] = target
            tablelog.publish_json(root, m)
        attempts.append((
            writer, attempt_no, seen["current"],
            "committed" if claimed else "conflict", target,
        ))
        return claimed

    # writer A: retire open 'F' orders, claim v2 — wins
    a_won = attempt_commit(
        "A", 1, seen_a, F.col("o_orderstatus") != "F"
    )
    assert a_won, "first claimant must win the marker"

    # writer B: price cap from its STALE base — claim v2 fails
    b_won = attempt_commit(
        "B", 1, seen_b, F.col("o_totalprice") < 200000, suffix="-loser"
    )
    assert not b_won, "stale-base commit must be rejected"

    # writer B rebase: re-read the manifest, re-apply to the new base
    seen_b2 = tablelog.read_json(root)
    b2_won = attempt_commit(
        "B", 2, seen_b2, F.col("o_totalprice") < 200000
    )
    assert b2_won, "rebased retry against the fresh base must win"

    final = tablelog.read_json(root)
    assert final["current"] == 3 and set(final["versions"]) == {
        "1",
        "2",
        "3",
    }, "manifest must stay consistent through the conflict"

    report = spark.createDataFrame(
        [(w, a, b, o, v) for (w, a, b, o, v) in attempts],
        "writer string, attempt int, base_version int, "
        "outcome string, version int",
    )
    counts = None
    for v in ("2", "3"):
        c = (
            spark.read.parquet(final["versions"][v])
            .agg(F.count("*").cast("bigint").alias("n_rows"))
            .select(F.lit(int(v)).cast("int").alias("version"), "n_rows")
        )
        counts = c if counts is None else counts.unionAll(c)
    return report.join(F.broadcast(counts), "version", "left").select(
        "writer", "attempt", "base_version", "outcome", "version",
        F.when(F.col("outcome") == "committed", F.col("n_rows")).alias(
            "n_rows"
        ),
    )


_SKIP_LO, _SKIP_HI = "1995-01-01", "1995-12-31"

_SKIP_ORACLE = f"""
WITH grp AS (
  SELECT year(o_orderdate) AS yr,
         MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi
  FROM orders GROUP BY 1),
hits AS (
  SELECT o_totalprice FROM orders
  WHERE o_orderdate BETWEEN DATE '{_SKIP_LO}' AND DATE '{_SKIP_HI}')
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM grp) AS files_total,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM grp
   WHERE lo <= DATE '{_SKIP_HI}' AND hi >= DATE '{_SKIP_LO}')
      AS files_read,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM grp
   WHERE NOT (lo <= DATE '{_SKIP_HI}' AND hi >= DATE '{_SKIP_LO}'))
      AS files_skipped,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  {DSUM('o_totalprice')} AS sum_total
FROM hits
"""


@query("etl_manifest_file_skipping", oracle=_SKIP_ORACLE, category="K")
def etl_manifest_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest MIN/MAX file skipping — the pruning-stats half of a
    table format that ``etl_time_travel_read`` documented as missing:
    the orders snapshot is laid out as one file group per order YEAR,
    the manifest records each group's (min, max) ``o_orderdate`` plus
    row count (write-time stats, one grouped aggregation), and the
    reader evaluates its date predicate AGAINST THE STATS — only file
    groups whose [min, max] interval overlaps the query range are
    opened at all. At 100 TB this is the difference between scanning 7
    years and scanning 1: pruning happens in driver-side metadata
    before any task launches, the same mechanism as Iceberg manifests
    or Delta file stats (and one level above parquet row-group stats,
    which still require opening every footer).

    The report proves both halves: the skip arithmetic
    (files_total/read/skipped off the manifest) AND the pruned scan's
    aggregate, which must equal the oracle's full-table filtered
    answer — skipping a group the predicate needed fails the hash.

    Scale: one partitioned write + one stats aggregation (both
    one-pass); the read opens only overlapping groups, and the date
    filter is still pushed into those scans for row-group pruning
    inside each file."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_skip/manifest.json")
    skip_dir = os.path.dirname(root)
    yr = base.withColumn("yr", F.year("o_orderdate").cast("int"))
    yr.write.mode("overwrite").partitionBy("yr").parquet(
        os.path.join(skip_dir, "data")
    )
    stats = (
        yr.groupBy("yr")
        .agg(
            F.min("o_orderdate").cast("string").alias("lo"),
            F.max("o_orderdate").cast("string").alias("hi"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    )
    groups = sorted(
        (
            {
                "path": os.path.join(skip_dir, "data", f"yr={r['yr']}"),
                "lo": r["lo"],
                "hi": r["hi"],
                "n_rows": r["n_rows"],
            }
            for r in stats
        ),
        key=lambda g: g["lo"],
    )
    tablelog.publish_json(root, {"groups": groups})

    manifest = tablelog.read_json(root)
    # driver-side metadata pruning: stats-interval overlap, no I/O
    read_groups = [
        g
        for g in manifest["groups"]
        if g["lo"] <= _SKIP_HI and g["hi"] >= _SKIP_LO
    ]
    n_total = len(manifest["groups"])
    n_read = len(read_groups)
    if read_groups:
        agg = (
            spark.read.parquet(*[g["path"] for g in read_groups])
            # the predicate still applies INSIDE surviving groups
            # (row-group pruning + exactness when a group straddles
            # the range)
            .filter(
                F.col("o_orderdate").between(
                    F.lit(_SKIP_LO).cast("date"),
                    F.lit(_SKIP_HI).cast("date"),
                )
            )
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_total"),
            )
        )
    else:
        # every group pruned: a correct reader returns the empty
        # aggregate without launching any scan (ADVICE r09 #4 — an
        # empty *paths list would raise instead)
        agg = spark.range(1).select(
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(None).cast("double").alias("sum_total"),
        )
    return agg.select(
        F.lit(n_total).cast("bigint").alias("files_total"),
        F.lit(n_read).cast("bigint").alias("files_read"),
        F.lit(n_total - n_read).cast("bigint").alias("files_skipped"),
        "n_rows",
        "sum_total",
    )


_PE_ORACLE = """
SELECT CAST(0 AS INT) AS version, 'year' AS scheme,
       (SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT)
        FROM orders) AS n_partitions,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
UNION ALL
SELECT CAST(1 AS INT) AS version, 'year_month' AS scheme,
       (SELECT CAST(COUNT(DISTINCT (year(o_orderdate),
                                    month(o_orderdate))) AS BIGINT)
        FROM orders) AS n_partitions,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
"""


@query("etl_partition_evolution", oracle=_PE_ORACLE, category="K")
def etl_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION across snapshot versions — the remaining
    table-format behavior the manifest substrate can express: version 0
    lays orders out by YEAR, version 1 RE-PARTITIONS the same rows by
    (year, month), and both remain readable through the manifest, each
    under its own scheme (Iceberg's headline feature: the partition
    spec is VERSION metadata, not a property of the table, so a layout
    migration is just another snapshot — no reader breaks, no
    big-bang rewrite of history). The manifest records each version's
    scheme and partition count at write time; the report re-reads both
    versions through the manifest and re-counts, so a scheme change
    that loses or duplicates rows fails the hash gate.

    Scale: each version is one partitioned write (the second is the
    layout migration a compaction job runs); reads are ordinary
    partition-pruned scans under whichever scheme their version
    declares. Readers of old snapshots keep old pruning; new
    predicates get the finer grain going forward."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_pe/manifest.json")
    pe_dir = os.path.dirname(root)
    schemes = {
        0: ("year", ["yr"]),
        1: ("year_month", ["yr", "mo"]),
    }
    staged = base.withColumn(
        "yr", F.year("o_orderdate").cast("int")
    ).withColumn("mo", F.month("o_orderdate").cast("int"))
    versions: dict[str, dict] = {}
    for v, (name, cols) in schemes.items():
        path = os.path.join(pe_dir, f"v{v}")
        staged.write.mode("overwrite").partitionBy(*cols).parquet(path)
        n_parts = staged.select(*cols).distinct().count()
        versions[str(v)] = {
            "path": path,
            "scheme": name,
            "partition_cols": cols,
            "n_partitions": n_parts,
        }
    tablelog.publish_json(root, {"current": 1, "versions": versions})

    manifest = tablelog.read_json(root)
    out = None
    for v in sorted(manifest["versions"], key=int):
        meta = manifest["versions"][v]
        frame = (
            spark.read.parquet(meta["path"])
            .agg(F.count("*").cast("bigint").alias("n_rows"))
            .select(
                F.lit(int(v)).cast("int").alias("version"),
                F.lit(meta["scheme"]).alias("scheme"),
                F.lit(meta["n_partitions"])
                .cast("bigint")
                .alias("n_partitions"),
                "n_rows",
            )
        )
        out = frame if out is None else out.unionAll(frame)
    return out


COW_GROUPS = 8  # key-range file groups in the base snapshot layout
COW_NEW_GROUP = 20  # group id receiving the insert batch (beyond base)

_COW_ORACLE = f"""
WITH w AS (
  SELECT CAST(MAX(o_orderkey) // {COW_GROUPS} + 1 AS BIGINT) AS width
  FROM orders),
b AS (
  SELECT o_orderkey, o_totalprice,
         o_orderkey // (SELECT width FROM w) AS grp
  FROM orders),
ins AS (
  SELECT {COW_NEW_GROUP} * (SELECT width FROM w) + o_orderkey // 1000
           AS o_orderkey
  FROM orders WHERE o_orderkey % 1000 = 3),
post AS (
  SELECT CASE WHEN grp IN (1, 2) AND o_orderkey % 100 = 7
              THEN o_totalprice + 1000 ELSE o_totalprice END AS tp
  FROM b
  UNION ALL
  SELECT CAST(o_orderkey AS DOUBLE) AS tp FROM ins)
SELECT CAST(1 AS INT) AS version,
       (SELECT {BIGCOUNT("DISTINCT grp")} FROM b) AS files_total,
       CAST(0 AS BIGINT) AS files_rewritten,
       CAST(0 AS BIGINT) AS files_carried,
       CAST(0 AS BIGINT) AS files_added,
       (SELECT {BIGCOUNT("*")} FROM b) AS n_rows,
       (SELECT {DSUM("o_totalprice")} FROM b) AS sum_total
UNION ALL
SELECT CAST(2 AS INT) AS version,
       (SELECT {BIGCOUNT("DISTINCT grp")} FROM b) + 1 AS files_total,
       (SELECT {BIGCOUNT("DISTINCT grp")} FROM b WHERE grp IN (1, 2))
           AS files_rewritten,
       (SELECT {BIGCOUNT("DISTINCT grp")} FROM b WHERE grp NOT IN (1, 2))
           AS files_carried,
       CAST(1 AS BIGINT) AS files_added,
       (SELECT {BIGCOUNT("*")} FROM b)
         + (SELECT {BIGCOUNT("*")} FROM ins) AS n_rows,
       (SELECT {DSUM("tp")} FROM post) AS sum_total
"""


@query("etl_merge_cow_manifest", oracle=_COW_ORACLE, category="K")
def etl_merge_cow_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE as a COPY-ON-WRITE commit against the manifest
    substrate — the composition VERDICT r09 ask #3 named as the last
    meaningful Delta-parity gap: ``etl_merge_upsert``'s join-rewrite
    semantics applied to ONLY the file groups whose manifest key-range
    stats contain matched keys, with every untouched group carried into
    the new manifest version BY REFERENCE (identical path — zero I/O,
    zero bytes rewritten) and the insert batch appended as one new
    group. The new version commits through the same link claim as
    ``etl_occ_write_conflict``, so concurrent writers conflict
    instead of clobbering.

    Layout: orders split into {COW_GROUPS} key-range groups (width =
    max_key/{COW_GROUPS}+1, recorded per group as (lo, hi, n_rows)
    write-time stats). Change batch: +1000 o_totalprice on keys
    %100==7 inside groups 1-2 (matched update), plus a remapped insert
    batch landing entirely in group {COW_NEW_GROUP}. The report reads
    BOTH versions back through the manifest, so a merge that touched a
    carried file, dropped a row, or double-applied an update fails the
    hash gate; file counts prove the rewrite set stayed minimal.

    Scale: the merge join shuffles only the 2 matched groups + the
    batch (not the table); carried groups cost one manifest-entry copy
    (driver-side metadata, like Delta's unchanged AddFiles); the commit
    is one exclusive link + one atomic rename. At 100 TB a 0.1%%
    update batch rewrites ~0.1%% of files — this is that mechanism."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = artifact_path(sf_dir, "tt_cow/manifest.json")
    cow_dir = os.path.dirname(root)
    _shutil.rmtree(cow_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(cow_dir, exist_ok=True)

    # layout width from one 1-row metadata aggregate (the driver-side
    # planning read every table format performs before a write)
    max_key = base.agg(F.max("o_orderkey")).first()[0]
    width = max_key // COW_GROUPS + 1

    # version 1: the base snapshot, one file group per key range, with
    # write-time (lo, hi, n_rows) stats in the manifest
    staged = base.withColumn("grp", F.expr(f"o_orderkey div {width}"))
    v1_data = os.path.join(cow_dir, "v1")
    staged.write.mode("overwrite").partitionBy("grp").parquet(v1_data)
    stats = (
        staged.groupBy("grp")
        .agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.count("*").alias("n_rows"),
        )
        .collect()  # bounded by the group count — manifest metadata
    )
    groups1 = {
        str(r["grp"]): {
            "path": os.path.join(v1_data, f"grp={r['grp']}"),
            "lo": r["lo"],
            "hi": r["hi"],
            "n_rows": r["n_rows"],
        }
        for r in stats
    }
    tablelog.publish_json(
        root, {"current": 1, "versions": {"1": {"groups": groups1}}}
    )

    # the MERGE source: matched updates (+1000 inside groups 1-2) and
    # an insert batch remapped beyond every existing key range
    updates = (
        base.filter(F.col("o_orderkey") % 100 == 7)
        .filter(F.expr(f"o_orderkey div {width}").isin(1, 2))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        )
    )
    inserts = base.filter(F.col("o_orderkey") % 1000 == 3).select(
        (
            F.lit(COW_NEW_GROUP * width) + F.expr("o_orderkey div 1000")
        ).alias("o_orderkey")
    ).select(
        "o_orderkey", F.col("o_orderkey").cast("double").alias("o_totalprice")
    )

    # file skipping: grp = key div width, so a group's stats contain a
    # batch key iff the batch's grp set names it — derived here from
    # the (tiny) batch itself, exactly the manifest-stats prune
    touched = sorted(
        r["grp"]
        for r in updates.select(
            F.expr(f"o_orderkey div {width}").alias("grp")
        )
        .distinct()
        .collect()
    )

    # copy-on-write: rewrite ONLY the touched groups through the merge
    manifest = tablelog.read_json(root)
    g1 = manifest["versions"]["1"]["groups"]
    rw_path = os.path.join(cow_dir, "v2_rewritten")
    if touched:  # an empty batch rewrites nothing (ADVICE r09 #4 class)
        old = spark.read.parquet(*[g1[str(g)]["path"] for g in touched])
        merged = merge_upsert(old, updates, "o_orderkey", ["o_totalprice"])
        merged.withColumn(
            "grp", F.expr(f"o_orderkey div {width}")
        ).write.mode("overwrite").partitionBy("grp").parquet(rw_path)
    add_path = os.path.join(cow_dir, "v2_added")
    inserts.write.mode("overwrite").parquet(add_path)

    groups2 = dict(g1)  # carried groups: BY REFERENCE (same path)
    for g in touched:
        rw = spark.read.parquet(os.path.join(rw_path, f"grp={g}"))
        lo, hi, n = rw.agg(
            F.min("o_orderkey"), F.max("o_orderkey"), F.count("*")
        ).first()
        groups2[str(g)] = {
            "path": os.path.join(rw_path, f"grp={g}"),
            "lo": lo,
            "hi": hi,
            "n_rows": n,
        }
    ilo, ihi, icnt = inserts.agg(
        F.min("o_orderkey"), F.max("o_orderkey"), F.count("*")
    ).first()
    groups2[str(COW_NEW_GROUP)] = {
        "path": add_path,
        "lo": ilo,
        "hi": ihi,
        "n_rows": icnt,
    }

    # commit version 2 through the OCC claim (conflict -> no commit)
    claimed = tablelog.claim_json(
        os.path.join(cow_dir, "commit-v2.marker"), {"version": 2}
    )
    if claimed:
        m = tablelog.read_json(root)
        m["versions"]["2"] = {"groups": groups2}
        m["current"] = 2
        tablelog.publish_json(root, m)
    assert claimed, "single writer must win its own version claim"

    final = tablelog.read_json(root)
    n1 = len(final["versions"]["1"]["groups"])
    counts = {
        1: (n1, 0, 0, 0),
        2: (n1 + 1, len(touched), n1 - len(touched), 1),
    }
    out = None
    for v in (1, 2):
        groups = final["versions"][str(v)]["groups"]
        total, rw, carried, added = counts[v]
        frame = (
            spark.read.parquet(*[g["path"] for g in groups.values()])
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                dsum(F.col("o_totalprice")).alias("sum_total"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(total).cast("bigint").alias("files_total"),
                F.lit(rw).cast("bigint").alias("files_rewritten"),
                F.lit(carried).cast("bigint").alias("files_carried"),
                F.lit(added).cast("bigint").alias("files_added"),
                "n_rows",
                "sum_total",
            )
        )
        out = frame if out is None else out.unionAll(frame)
    return out


_CDC_ORACLE = f"""
WITH w AS (
  SELECT CAST(MAX(o_orderkey) // {COW_GROUPS} + 1 AS BIGINT) AS width
  FROM orders),
b AS (
  SELECT o_orderkey, o_totalprice,
         o_orderkey // (SELECT width FROM w) AS grp
  FROM orders),
ins AS (
  SELECT {COW_NEW_GROUP} * (SELECT width FROM w) + o_orderkey // 1000
           AS o_orderkey
  FROM orders WHERE o_orderkey % 1000 = 3)
SELECT 'delete' AS op,
       (SELECT {BIGCOUNT("*")} FROM b
        WHERE (grp IN (1, 2) AND o_orderkey % 10 = 0) OR grp = 3)
           AS n_rows,
       (SELECT {DSUM("o_totalprice")} FROM b
        WHERE (grp IN (1, 2) AND o_orderkey % 10 = 0) OR grp = 3)
           AS sum_total
UNION ALL
SELECT 'insert' AS op,
       (SELECT {BIGCOUNT("*")} FROM ins) AS n_rows,
       (SELECT {DSUM("CAST(o_orderkey AS DOUBLE)")} FROM ins) AS sum_total
UNION ALL
SELECT 'update' AS op,
       (SELECT {BIGCOUNT("*")} FROM b
        WHERE grp IN (1, 2) AND o_orderkey % 10 = 1) AS n_rows,
       (SELECT {DSUM("o_totalprice + 500")} FROM b
        WHERE grp IN (1, 2) AND o_orderkey % 10 = 1) AS sum_total
UNION ALL
SELECT 'skipped_files' AS op,
       (SELECT {BIGCOUNT("DISTINCT grp")} FROM b
        WHERE grp NOT IN (1, 2, 3)) AS n_rows,
       CAST(NULL AS DOUBLE) AS sum_total
"""


@query("etl_manifest_cdc", oracle=_CDC_ORACLE, category="K")
def etl_manifest_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style CHANGELOG from two manifest versions (VERDICT
    r09 stretch #7) — the read side of what a real lakehouse emits:
    diff version 1 → 2 of a copy-on-write table into an
    insert/update/delete feed, WITHOUT touching any carried file. The
    manifest diff classifies groups first — identical path means
    provably unchanged bytes (skipped with ZERO I/O, the row the
    report counts as 'skipped_files'); only rewritten pairs are
    row-diffed (full-outer join on the key, post-image vs pre-image),
    added groups emit pure inserts, removed groups pure deletes.

    The simulated commit (same COW layout as
    ``etl_merge_cow_manifest``): inside groups 1-2, keys %10==0 are
    deleted and keys %10==1 get +500 o_totalprice; group 3 is dropped
    whole (file removal); a remapped insert batch lands as new group
    {COW_NEW_GROUP}. Deletes carry the pre-image sum, updates and
    inserts the post-image — the hash gate fails if the differ
    misclassifies any row or reads a carried group.

    Scale: CDC cost is proportional to CHANGED files only — the
    row-diff joins two bounded group sets on the key; carried groups
    never enter any plan (the pin asserts a scale-independent scan
    count). This is Iceberg's changelog-scan / Delta CDF shape: file
    metadata first, row diff second."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = artifact_path(sf_dir, "tt_cdc/manifest.json")
    cdc_dir = os.path.dirname(root)
    _shutil.rmtree(cdc_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(cdc_dir, exist_ok=True)

    max_key = base.agg(F.max("o_orderkey")).first()[0]
    width = max_key // COW_GROUPS + 1
    grp_of = F.expr(f"o_orderkey div {width}")

    # version 1: the base snapshot, key-range file groups
    staged = base.withColumn("grp", grp_of)
    v1_data = os.path.join(cdc_dir, "v1")
    staged.write.mode("overwrite").partitionBy("grp").parquet(v1_data)
    all_groups = sorted(
        r["grp"] for r in staged.select("grp").distinct().collect()
    )
    g1 = {
        str(g): os.path.join(v1_data, f"grp={g}") for g in all_groups
    }

    # version 2 (copy-on-write commit): rewrite groups 1-2 with the
    # delete/update batch applied, drop group 3, append group 20,
    # carry everything else by reference
    rewritten = [g for g in (1, 2) if str(g) in g1]
    removed = [g for g in (3,) if str(g) in g1]
    rw_path = os.path.join(cdc_dir, "v2_rewritten")
    if rewritten:  # empty batch rewrites nothing (ADVICE r09 #4 class)
        old12 = spark.read.parquet(*[g1[str(g)] for g in rewritten])
        new12 = (
            old12.filter(F.col("o_orderkey") % 10 != 0)  # deletes
            .select(
                "o_orderkey",
                F.when(
                    F.col("o_orderkey") % 10 == 1,
                    F.col("o_totalprice") + 500,
                )
                .otherwise(F.col("o_totalprice"))
                .alias("o_totalprice"),
            )
        )
        new12.withColumn("grp", grp_of).write.mode(
            "overwrite"
        ).partitionBy("grp").parquet(rw_path)
    inserts = base.filter(F.col("o_orderkey") % 1000 == 3).select(
        (
            F.lit(COW_NEW_GROUP * width) + F.expr("o_orderkey div 1000")
        ).alias("o_orderkey")
    ).select(
        "o_orderkey",
        F.col("o_orderkey").cast("double").alias("o_totalprice"),
    )
    add_path = os.path.join(cdc_dir, "v2_added")
    inserts.write.mode("overwrite").parquet(add_path)

    g2 = {
        g: p
        for g, p in g1.items()
        if int(g) not in rewritten and int(g) not in removed
    }
    for g in rewritten:
        g2[str(g)] = os.path.join(rw_path, f"grp={g}")
    g2[str(COW_NEW_GROUP)] = add_path
    tablelog.publish_json(
        root, {"current": 2, "versions": {"1": g1, "2": g2}}
    )

    # ---- the CDC read: manifest diff first, row diff second ----
    m = tablelog.read_json(root)
    mv1, mv2 = m["versions"]["1"], m["versions"]["2"]
    pairs = [g for g in mv1 if g in mv2 and mv1[g] != mv2[g]]
    carried = [g for g in mv1 if g in mv2 and mv1[g] == mv2[g]]
    added = [g for g in mv2 if g not in mv1]
    dropped = [g for g in mv1 if g not in mv2]

    def _empty_ops() -> DataFrame:
        # zero-row (op, v) frame — an empty class list must not feed
        # an empty *paths read (ADVICE r09 #4 class)
        return spark.range(0).select(
            F.lit("none").alias("op"), F.lit(0.0).alias("v")
        )

    def _op_rows(paths: list[str], op: str) -> DataFrame:
        if not paths:
            return _empty_ops()
        return spark.read.parquet(*paths).select(
            F.lit(op).alias("op"), F.col("o_totalprice").alias("v")
        )

    # ONE full-outer join classifies every changed-pair row; dropped/
    # added groups contribute pure deletes/inserts; a single grouped
    # aggregation over the unioned feed produces the report (the join
    # executes once, not once per op branch)
    if pairs:
        pre = spark.read.parquet(*[mv1[g] for g in pairs]).select(
            "o_orderkey", F.col("o_totalprice").alias("tp_old")
        )
        post = spark.read.parquet(*[mv2[g] for g in pairs]).select(
            "o_orderkey", F.col("o_totalprice").alias("tp_new")
        )
        pair_ops = (
            pre.join(post, "o_orderkey", "full")
            .select(
                F.when(F.col("tp_new").isNull(), F.lit("delete"))
                .when(F.col("tp_old").isNull(), F.lit("insert"))
                .when(
                    F.col("tp_old") != F.col("tp_new"), F.lit("update")
                )
                .alias("op"),
                F.when(F.col("tp_new").isNull(), F.col("tp_old"))
                .otherwise(F.col("tp_new"))
                .alias("v"),
            )
            # unchanged rows emit nothing
            .filter(F.col("op").isNotNull())
        )
    else:
        pair_ops = _empty_ops()
    del_dropped = _op_rows([mv1[g] for g in dropped], "delete")
    ins_added = _op_rows([mv2[g] for g in added], "insert")
    counted = (
        pair_ops.unionAll(del_dropped)
        .unionAll(ins_added)
        .groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("v")).alias("sum_total"),
        )
    )
    # zero-fill spine: every op row exists even if a class is empty
    spine = spark.createDataFrame(
        [("delete",), ("insert",), ("update",)], "op string"
    )
    ops = spine.join(F.broadcast(counted), "op", "left").select(
        "op",
        F.coalesce(F.col("n_rows"), F.lit(0).cast("bigint")).alias(
            "n_rows"
        ),
        "sum_total",
    )
    skipped = spark.range(1).select(
        F.lit("skipped_files").alias("op"),
        F.lit(len(carried)).cast("bigint").alias("n_rows"),
        F.lit(None).cast("double").alias("sum_total"),
    )
    return ops.unionAll(skipped)


_TXN_ORACLE = f"""
SELECT CAST(1 AS INT) AS version,
       (SELECT {BIGCOUNT("*")} FROM customer) AS n_customers,
       (SELECT {BIGCOUNT("*")} FROM orders) AS n_orders,
       (SELECT {BIGCOUNT("*")} FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
           AS n_orphan_orders
UNION ALL
SELECT CAST(2 AS INT) AS version,
       (SELECT {BIGCOUNT("*")} FROM customer
        WHERE c_custkey % 50 <> 0) AS n_customers,
       (SELECT {BIGCOUNT("*")} FROM orders
        WHERE o_custkey % 50 <> 0) AS n_orders,
       (SELECT {BIGCOUNT("*")} FROM orders o
        WHERE o_custkey % 50 <> 0
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey % 50 <> 0
                            AND c.c_custkey = o.o_custkey))
           AS n_orphan_orders
"""


@query("etl_multi_table_txn", oracle=_TXN_ORACLE, category="K")
def etl_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE atomic transaction on the manifest substrate — the
    second capability VERDICT r09's missing-item #2 said a real table
    format adds: one CATALOG manifest records the current snapshot of
    EVERY table, and a cross-table transaction (here, a right-to-be-
    forgotten purge deleting customers with key%50==0 AND their
    orders) publishes by writing both new snapshots first and then
    swapping the single catalog pointer with one POSIX-atomic
    ``os.replace``. A reader resolving any catalog version therefore
    sees both tables pre-state or both post-state — never a customer
    purge whose orders survive.

    The report proves the atomicity payoff, not just counts: each
    version's ``n_orphan_orders`` (orders whose customer is absent in
    the SAME catalog version, via left-anti join) must be 0 — a torn
    commit, or per-table pointers swapped independently, yields
    orphans and fails the hash gate.

    Scale: snapshots are immutable one-pass filtered writes; the
    commit is one rename regardless of table count or size (Iceberg
    v1's single catalog pointer / Nessie's commit model). The orphan
    audit is one shuffle anti-join per version, keyed on the FK."""
    import shutil as _shutil

    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    root = artifact_path(sf_dir, "tt_txn/catalog.json")
    txn_dir = os.path.dirname(root)
    _shutil.rmtree(txn_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(txn_dir, exist_ok=True)

    # version 1: base snapshots of both tables
    paths = {
        (1, "customer"): os.path.join(txn_dir, "customer_v1"),
        (1, "orders"): os.path.join(txn_dir, "orders_v1"),
        (2, "customer"): os.path.join(txn_dir, "customer_v2"),
        (2, "orders"): os.path.join(txn_dir, "orders_v2"),
    }
    cust.write.mode("overwrite").parquet(paths[(1, "customer")])
    orders.write.mode("overwrite").parquet(paths[(1, "orders")])
    tablelog.publish_json(
        root,
        {
            "current": 1,
            "versions": {
                "1": {
                    "customer": paths[(1, "customer")],
                    "orders": paths[(1, "orders")],
                }
            },
        }
    )

    # the transaction: purge customers key%50==0 AND their orders —
    # both snapshots written BEFORE the single pointer swap publishes
    cust.filter(F.col("c_custkey") % 50 != 0).write.mode(
        "overwrite"
    ).parquet(paths[(2, "customer")])
    orders.filter(F.col("o_custkey") % 50 != 0).write.mode(
        "overwrite"
    ).parquet(paths[(2, "orders")])
    cat = tablelog.read_json(root)
    cat["versions"]["2"] = {
        "customer": paths[(2, "customer")],
        "orders": paths[(2, "orders")],
    }
    cat["current"] = 2
    tablelog.publish_json(root, cat)

    # the reader: resolve each catalog version and audit FK closure
    # WITHIN that version — atomicity means orphans are impossible
    final = tablelog.read_json(root)
    out = None
    for v in ("1", "2"):
        snap = final["versions"][v]
        c = spark.read.parquet(snap["customer"])
        o = spark.read.parquet(snap["orders"])
        orphans = o.join(
            c, o.o_custkey == c.c_custkey, "left_anti"
        ).agg(F.count("*").cast("bigint").alias("n_orphan_orders"))
        frame = (
            c.agg(F.count("*").cast("bigint").alias("n_customers"))
            .crossJoin(
                o.agg(F.count("*").cast("bigint").alias("n_orders"))
            )
            .crossJoin(orphans)
            .select(
                F.lit(int(v)).cast("int").alias("version"),
                "n_customers",
                "n_orders",
                "n_orphan_orders",
            )
        )
        out = frame if out is None else out.unionAll(frame)
    return out


# --- orphan-file vacuum (round 10) -----------------------------------------

_VACUUM_ORACLE = """
SELECT * FROM (
  SELECT 'v0' AS item, 'live' AS status,
         CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
  UNION ALL
  SELECT 'v1', 'live', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderstatus <> 'F'
  UNION ALL
  SELECT 'orphan_mod7', 'vacuumed', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT 'orphan_mod11', 'vacuumed', CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderkey % 11 = 0)
"""


@query("etl_vacuum_orphan_files", oracle=_VACUUM_ORACLE, category="H")
def etl_vacuum_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM of unreferenced files — the garbage-collection half of the
    manifest substrate (Delta VACUUM / Iceberg remove-orphan-files
    shape) that ``etl_time_travel_expire`` doesn't cover: expire
    removes OLD VERSIONS the manifest knows about; vacuum removes
    directories the manifest NEVER adopted — debris of writers that
    died between data write and OCC commit (``etl_occ_write_conflict``
    losers that never rebased). The substrate stages two live versions
    plus two aborted-writer directories; vacuum walks the table root,
    classifies every data directory against the union of manifest
    version paths, records the orphans' row counts for the audit trail,
    deletes them, and re-reads the live versions through the manifest —
    proving the GC touched nothing a reader can reach.

    Exactness: the report is four integer counts; orphan contents are
    deterministic key-mod slices, so the oracle reproduces them from
    the fixture without touching the filesystem.

    Scale: classification is driver-side metadata (set difference of
    directory names vs manifest paths — no data read to DECIDE); the
    orphan row counts are pruned single-column scans read once for the
    audit before deletion, and live verification reads only manifest
    paths. At a million files the walk parallelizes as a listing job;
    the decision stays a hash-set lookup per file."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_vacuum/manifest.json")
    vac_dir = os.path.dirname(root)
    # live, manifest-adopted versions
    versions: dict[str, dict] = {}
    for v, df in {
        0: base,
        1: base.filter(F.col("o_orderstatus") != "F"),
    }.items():
        path = os.path.join(vac_dir, f"v{v}")
        df.write.mode("overwrite").parquet(path)
        versions[str(v)] = {"path": path, "n_rows": df.count()}
    # aborted writers: data landed, the OCC commit never did — exactly
    # the state an etl_occ_write_conflict loser leaves if it dies
    # before rebasing
    orphans = {
        "orphan_mod7": base.filter(F.col("o_orderkey") % 7 == 0),
        "orphan_mod11": base.filter(F.col("o_orderkey") % 11 == 0),
    }
    for name, df in orphans.items():
        df.write.mode("overwrite").parquet(os.path.join(vac_dir, name))
    tablelog.publish_json(root, {"current": 1, "versions": versions})

    # --- the vacuum: classify every directory under the table root ---
    # Classification completes (and is validated) BEFORE any rmtree
    # runs, so a misclassified live directory aborts the vacuum with
    # zero deletions instead of being detected post-destruction
    # (ADVICE r11 #3). Real exceptions, not asserts: they guard a
    # destructive path and must fire even under `python -O`.
    manifest = tablelog.read_json(root)
    live_paths = {v["path"] for v in manifest["versions"].values()}
    orphan_entries = [
        entry
        for entry in sorted(os.listdir(vac_dir))
        if os.path.isdir(os.path.join(vac_dir, entry))  # skip manifest file
        and os.path.join(vac_dir, entry) not in live_paths
    ]
    if orphan_entries != ["orphan_mod11", "orphan_mod7"]:
        raise RuntimeError(
            f"vacuum classified unexpected orphan set: {orphan_entries}"
        )
    rows = []
    for entry in orphan_entries:
        full = os.path.join(vac_dir, entry)
        # audit before delete: a real vacuum logs what it reclaims
        n = spark.read.parquet(full).count()
        _shutil.rmtree(full)
        rows.append((entry, "vacuumed", n))
    leftover = [
        r[0] for r in rows if os.path.exists(os.path.join(vac_dir, r[0]))
    ]
    if leftover:
        raise RuntimeError(f"vacuumed directories still present: {leftover}")

    vacuumed = spark.createDataFrame(
        rows, "item string, status string, n_rows bigint"
    )
    live = [
        spark.read.parquet(manifest["versions"][v]["path"])
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .select(
            F.lit(f"v{v}").alias("item"),
            F.lit("live").alias("status"),
            "n_rows",
        )
        for v in sorted(manifest["versions"], key=int)
    ]
    out = vacuumed
    for fr in live:
        out = out.unionByName(fr)
    return out


# --- manifest schema evolution (round 11) ----------------------------------

_SCHEMA_EVO_ORACLE = f"""
SELECT CAST(1 AS INT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {DSUM('o_totalprice')} AS sum_price,
       CAST(0 AS BIGINT) AS n_with_priority
FROM orders WHERE year(o_orderdate) <= 1997
UNION ALL
SELECT CAST(2 AS INT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {DSUM('o_totalprice')} AS sum_price,
       -- COUNT(expr) skips NULLs exactly like Spark's F.count(col): a
       -- post-1997 order with NULL o_orderpriority must not count
       -- (self-review finding, round 11)
       CAST(COUNT(CASE WHEN year(o_orderdate) > 1997
                       THEN o_orderpriority END) AS BIGINT)
         AS n_with_priority
FROM orders
"""


@query("etl_manifest_schema_evolution", oracle=_SCHEMA_EVO_ORACLE, category="K")
def etl_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION ACROSS MANIFEST VERSIONS — the last lakehouse
    behavior this environment can express (VERDICT r10 "what's missing"
    #2), composing ``scan_parquet_schema_merge``'s null-fill semantics
    with ``etl_time_travel_read``'s versioned manifest: each manifest
    version carries its own LOGICAL schema as (field_id -> name, type)
    — Iceberg's public name-mapping idea — and each file group records
    the PHYSICAL column names it was written with, so a column RENAME
    is a metadata-only commit (field id 2: ``o_totalprice`` -> ``price``)
    and a column ADD null-fills history (field id 3:
    ``o_orderpriority``, absent from v1's files).

    Version 1 writes orders through 1997 under schema
    [1: o_orderkey, 2: o_totalprice]. Version 2 commits post-1997 files
    written under the NEW physical names [o_orderkey, price,
    o_orderpriority], CARRIES v1's file group by reference (zero bytes
    rewritten — law-tested via md5 in tests/test_round11_semantics),
    and swaps the logical schema. The reader resolves every file group
    against the READ version's schema BY FIELD ID: physical name ->
    logical name per group, missing ids -> typed NULL — so v1 reads
    back under v1's names, and a cross-version read of v2 name-aligns
    old files to the renamed column. Both reads reduce to (n_rows,
    decimal-exact sum over field 2, non-null count of field 3).

    Scale: the rename/add commit is O(1) driver-side metadata; the
    per-group rename projection is a zero-cost alias in the scan plan
    (column pruning still reaches the parquet footer under the PHYSICAL
    name); the cross-version read is an ordinary unionByName of pruned
    scans — no rewrite of history at any size."""
    import shutil as _shutil

    o = t(spark, sf_dir, "orders")
    root = artifact_path(sf_dir, "tt_schema_evo/manifest.json")
    evo_dir = os.path.dirname(root)
    _shutil.rmtree(evo_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(evo_dir, exist_ok=True)

    v1_path = os.path.join(evo_dir, "v1")
    v2_path = os.path.join(evo_dir, "v2-adds")

    # v1 data files: physical names match v1's logical schema
    o.filter(F.year("o_orderdate") <= 1997).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(v1_path)

    # v2 data files: written under the NEW physical names
    o.filter(F.year("o_orderdate") > 1997).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        "o_orderpriority",
    ).write.mode("overwrite").parquet(v2_path)

    # field catalog: id -> (logical name per version, spark type)
    manifest = {
        "current": 2,
        "versions": {
            "1": {
                "schema": [
                    {"id": 1, "name": "o_orderkey", "type": "bigint"},
                    {"id": 2, "name": "o_totalprice", "type": "double"},
                ],
                "groups": [
                    {
                        "path": v1_path,
                        "physical": {"1": "o_orderkey", "2": "o_totalprice"},
                    }
                ],
            },
            "2": {
                "schema": [
                    {"id": 1, "name": "o_orderkey", "type": "bigint"},
                    {"id": 2, "name": "price", "type": "double"},
                    {"id": 3, "name": "o_orderpriority", "type": "string"},
                ],
                "groups": [
                    # v1's group carried BY REFERENCE under its original
                    # physical names — the rename touches zero data bytes
                    {
                        "path": v1_path,
                        "physical": {"1": "o_orderkey", "2": "o_totalprice"},
                    },
                    {
                        "path": v2_path,
                        "physical": {
                            "1": "o_orderkey",
                            "2": "price",
                            "3": "o_orderpriority",
                        },
                    },
                ],
            },
        },
    }
    tablelog.publish_json(root, manifest)

    doc = tablelog.read_json(root)

    def read_version(v: int) -> DataFrame:
        """Name-align every file group to version v's logical schema by
        field id; ids absent from a group null-fill at the group's
        declared type — scan_parquet_schema_merge semantics, but driven
        by the manifest instead of footer reconciliation."""
        ver = doc["versions"][str(v)]
        frames = []
        for grp in ver["groups"]:
            cols = []
            for field in ver["schema"]:
                phys = grp["physical"].get(str(field["id"]))
                if phys is not None:
                    cols.append(F.col(phys).alias(field["name"]))
                else:
                    cols.append(
                        F.lit(None).cast(field["type"]).alias(field["name"])
                    )
            frames.append(spark.read.parquet(grp["path"]).select(cols))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def summarize(v: int) -> DataFrame:
        df = read_version(v)
        # field 2's logical name under THIS version's schema
        ver = doc["versions"][str(v)]
        names = {f["id"]: f["name"] for f in ver["schema"]}
        prio = (
            F.count(F.col(names[3])).cast("bigint")
            if 3 in names
            else F.lit(0).cast("bigint")
        )
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col(names[2])).alias("sum_price"),
            prio.alias("n_with_priority"),
        ).select(
            F.lit(v).cast("int").alias("version"),
            "n_rows",
            "sum_price",
            "n_with_priority",
        )

    return summarize(1).unionAll(summarize(2))


# --- deletion vectors / merge-on-read (round 11) ----------------------------

DV_GROUPS = 4  # key-range file groups in the DV table layout
_DV_PRED_SQL = "o_orderstatus = 'F' AND o_orderkey % 3 = 0"

_DV_ORACLE = f"""
WITH w AS (
  SELECT CAST(MAX(o_orderkey) // {DV_GROUPS} + 1 AS BIGINT) AS width
  FROM orders),
del AS (
  SELECT o_orderkey, o_orderkey // (SELECT width FROM w) AS grp
  FROM orders WHERE {_DV_PRED_SQL}),
live AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE NOT ({_DV_PRED_SQL}))
SELECT CAST(1 AS INT) AS version, 'cow' AS mode,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       CAST(0 AS BIGINT) AS n_dv_entries,
       CAST(0 AS BIGINT) AS n_groups_rewritten
FROM orders
UNION ALL
SELECT CAST(2 AS INT) AS version, 'mor' AS mode,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       (SELECT {BIGCOUNT("*")} FROM del) AS n_dv_entries,
       CAST(0 AS BIGINT) AS n_groups_rewritten
FROM live
UNION ALL
SELECT CAST(3 AS INT) AS version, 'compacted' AS mode,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       CAST(0 AS BIGINT) AS n_dv_entries,
       (SELECT {BIGCOUNT("DISTINCT grp")} FROM del) AS n_groups_rewritten
FROM live
"""


@query("etl_manifest_deletion_vectors", oracle=_DV_ORACLE, category="K")
def etl_manifest_deletion_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETION VECTORS — merge-on-read row deletes, the lakehouse
    behavior VERDICT r10's missing-list named alongside schema
    evolution as what a real format still adds over this substrate: a
    DELETE writes NO data files, only a deletion vector per touched
    file group (here a key-set parquet — real formats use positional
    roaring bitmaps, but parquet row positions aren't comparable across
    engines, and orders keys are unique, so the key-set form keeps the
    full cross-engine oracle while exercising identical mechanics), and
    readers apply the DV as an anti-join at scan time.

    Three versions through one manifest: v1 is the base snapshot in
    {DV_GROUPS} key-range groups; v2 commits `DELETE WHERE status='F'
    AND key%3=0` as DVs attached to touched groups with every data
    group carried BY REFERENCE (zero data bytes written — the whole
    point: delete cost ∝ matched rows, not table size; law-tested); v3
    COMPACTS — rewrites only the groups that carry DVs (applying them),
    carries DV-free groups by reference, drops every DV — the MOR→COW
    lifecycle real tables run when read-amplification accumulates. The
    report reads all three versions back through the manifest: v2 and
    v3 must agree row-for-row (a DV applied twice, or a compaction that
    misapplied one, breaks the hash).

    Scale: the v2 commit writes |deleted keys| rows of DV + O(1)
    metadata; the MOR scan is one broadcast anti-join of the (small)
    DV union against the pruned group scans — on a real cluster the DV
    is applied per-file at scan time (Delta/Iceberg's documented
    merge-on-read path); compaction cost ∝ groups-with-DVs only."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = artifact_path(sf_dir, "tt_dv/manifest.json")
    dv_dir = os.path.dirname(root)
    _shutil.rmtree(dv_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(dv_dir, exist_ok=True)

    max_key = base.agg(F.max("o_orderkey")).first()[0]
    width = max_key // DV_GROUPS + 1
    staged = base.withColumn("grp", F.expr(f"o_orderkey div {width}"))

    # version 1: base snapshot, one file group per key range
    v1_data = os.path.join(dv_dir, "v1")
    staged.write.mode("overwrite").partitionBy("grp").parquet(v1_data)
    grp_ids = sorted(
        r["grp"]
        for r in staged.select("grp").distinct().collect()  # ≤ DV_GROUPS
    )
    groups1 = {
        str(g): {"path": os.path.join(v1_data, f"grp={g}"), "dv": None}
        for g in grp_ids
    }
    tablelog.publish_json(
        root, {"current": 1, "versions": {"1": {"groups": groups1}}}
    )

    # version 2: the DELETE as deletion vectors — zero data-file writes
    deleted = staged.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0)
    ).select("grp", "o_orderkey")
    dv_data = os.path.join(dv_dir, "dv_v2")
    deleted.write.mode("overwrite").partitionBy("grp").parquet(dv_data)
    touched = sorted(
        r["grp"]
        for r in deleted.select("grp").distinct().collect()  # ≤ DV_GROUPS
    )
    m = tablelog.read_json(root)
    groups2 = {
        g: {
            "path": spec["path"],  # carried BY REFERENCE, always
            "dv": os.path.join(dv_data, f"grp={g}")
            if int(g) in touched
            else None,
        }
        for g, spec in m["versions"]["1"]["groups"].items()
    }
    m["versions"]["2"] = {"groups": groups2}
    m["current"] = 2
    tablelog.publish_json(root, m)

    # version 3: compaction — rewrite ONLY the DV-carrying groups
    v3_data = os.path.join(dv_dir, "v3")
    doc = tablelog.read_json(root)
    groups3 = {}
    for g, spec in doc["versions"]["2"]["groups"].items():
        if spec["dv"] is None:
            groups3[g] = {"path": spec["path"], "dv": None}  # carried
        else:
            out = os.path.join(v3_data, f"grp={g}")
            dv = spark.read.parquet(spec["dv"]).select("o_orderkey")
            spark.read.parquet(spec["path"]).join(
                F.broadcast(dv), "o_orderkey", "left_anti"
            ).write.mode("overwrite").parquet(out)
            groups3[g] = {"path": out, "dv": None}
    doc["versions"]["3"] = {"groups": groups3}
    doc["current"] = 3
    tablelog.publish_json(root, doc)

    final = tablelog.read_json(root)

    def read_version(v: int) -> DataFrame:
        """Merge-on-read scan: union the group scans, anti-join the
        union of attached DVs (keys are unique, so the key-set DV
        applies table-wide in ONE broadcast anti-join)."""
        ver = final["versions"][str(v)]
        data = None
        dvs = None
        for spec in ver["groups"].values():
            df = spark.read.parquet(spec["path"]).select(
                "o_orderkey", "o_totalprice"
            )
            data = df if data is None else data.unionByName(df)
            if spec["dv"] is not None:
                d = spark.read.parquet(spec["dv"]).select("o_orderkey")
                dvs = d if dvs is None else dvs.unionByName(d)
        if dvs is not None:
            data = data.join(F.broadcast(dvs), "o_orderkey", "left_anti")
        return data

    n_deleted = deleted.count()  # manifest-grade metadata, group-bounded

    def report_row(v: int, mode: str, n_dv: int, n_rw: int) -> DataFrame:
        return read_version(v).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(v).cast("int").alias("version"),
            F.lit(mode).alias("mode"),
            "n_rows",
            "sum_total",
            F.lit(n_dv).cast("bigint").alias("n_dv_entries"),
            F.lit(n_rw).cast("bigint").alias("n_groups_rewritten"),
        )

    return (
        report_row(1, "cow", 0, 0)
        .unionAll(report_row(2, "mor", n_deleted, 0))
        .unionAll(report_row(3, "compacted", 0, len(touched)))
    )


# --- write-audit-publish branch workflow (round 11) -------------------------

_WAP_BATCH = "o_orderkey % 500 = 1"
_WAP_BAD = "o_orderkey % 3 = 0"  # within the batch: the corrupt subset

_WAP_ORACLE = f"""
WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
batch AS (
  SELECT (SELECT m FROM mx) + 1 + o_orderkey AS o_orderkey,
         CASE WHEN {_WAP_BAD} THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE {_WAP_BATCH}),
staged AS (
  SELECT o_orderkey, o_totalprice FROM orders
  UNION ALL SELECT o_orderkey, o_totalprice FROM batch),
-- the audit gates the INGEST BATCH only (base rows are already
-- published history); gating `staged` instead would silently diverge
-- from the implementation if a fixture ever carried a negative base
-- price (self-review finding, round 11)
clean AS (
  SELECT o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice FROM batch WHERE o_totalprice >= 0)
SELECT 'main' AS ref, CAST(1 AS INT) AS version,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       CAST(0 AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'audit' AS ref, CAST(2 AS INT) AS version,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       (SELECT {BIGCOUNT("*")} FROM batch WHERE o_totalprice < 0)
         AS n_violations
FROM staged
UNION ALL
SELECT 'audit' AS ref, CAST(3 AS INT) AS version,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       CAST(0 AS BIGINT) AS n_violations
FROM clean
UNION ALL
SELECT 'main' AS ref, CAST(3 AS INT) AS version,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total,
       CAST(0 AS BIGINT) AS n_violations
FROM clean
"""


@query("etl_manifest_wap_branch", oracle=_WAP_ORACLE, category="K")
def etl_manifest_wap_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH over manifest BRANCHES — the staging
    workflow Iceberg ships as refs/branches and Delta documents as WAP
    (public pattern): the manifest gains named refs (branch -> version
    pointer), an ingest batch commits on an `audit` branch that `main`
    readers never see, data-quality gates run against the branch read,
    the violating rows are quarantined into a follow-up branch commit,
    and publishing is ONE atomic ref swap of `main` onto the audited
    version — no data movement at publish time.

    The run: v1 is the base snapshot (`main` -> 1). The batch (keys
    remapped past max, ~0.2% of the table, with a deliberately corrupt
    negative-price subset) commits as an appended group on `audit` -> 2
    with the base group carried by reference. The audit gate
    (o_totalprice >= 0) counts violations on the branch read, the clean
    batch re-commits as `audit` -> 3, and `main` fast-forwards to 3.
    The report reads THROUGH the refs at each stage — main@1 is
    captured before the publish, so a publish that leaked staged or
    corrupt rows into main, or a quarantine that dropped good rows,
    breaks the hash. Isolation is law-tested: main@1's group list is
    disjoint from the staged group until publish.

    Scale: branch commits are O(1) metadata + the batch write (base
    carried by reference); the audit gate is one pruned scan of the
    STAGED GROUP only for violations plus the branch-read aggregate;
    publish is one atomic os.replace — exactly why WAP is the standard
    pattern for validating 100 TB ingests without blocking readers."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = artifact_path(sf_dir, "tt_wap/manifest.json")
    wap_dir = os.path.dirname(root)
    _shutil.rmtree(wap_dir, ignore_errors=True)  # idempotent re-run
    os.makedirs(wap_dir, exist_ok=True)

    # version 1: base snapshot, main ref
    v1_path = os.path.join(wap_dir, "v1")
    base.write.mode("overwrite").parquet(v1_path)
    tablelog.publish_json(
        root,
        {
            "refs": {"main": 1},
            "versions": {"1": {"groups": [v1_path]}},
        }
    )

    # stage the ingest batch on the audit branch (corrupt subset inside)
    max_key = base.agg(F.max("o_orderkey")).first()[0]
    batch = base.filter(F.expr(_WAP_BATCH)).select(
        (F.lit(max_key) + 1 + F.col("o_orderkey")).alias("o_orderkey"),
        F.when(F.expr(_WAP_BAD), -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    staged_path = os.path.join(wap_dir, "v2-staged")
    batch.write.mode("overwrite").parquet(staged_path)
    m = tablelog.read_json(root)
    m["versions"]["2"] = {"groups": [v1_path, staged_path]}  # carry + add
    m["refs"]["audit"] = 2
    tablelog.publish_json(root, m)

    def read_ref(doc: dict, ref: str) -> DataFrame:
        ver = doc["versions"][str(doc["refs"][ref])]
        frames = [spark.read.parquet(p) for p in ver["groups"]]
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def summarize(doc: dict, ref: str, viol: int) -> DataFrame:
        return read_ref(doc, ref).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(ref).alias("ref"),
            F.lit(doc["refs"][ref]).cast("int").alias("version"),
            "n_rows",
            "sum_total",
            F.lit(viol).cast("bigint").alias("n_violations"),
        )

    # the audit gate runs against the STAGED GROUP on the branch
    n_bad = (
        spark.read.parquet(staged_path)
        .filter(F.col("o_totalprice") < 0)
        .count()  # gate-grade metadata scalar
    )
    pre = tablelog.read_json(root)
    row_main_v1 = summarize(pre, "main", 0)  # captured BEFORE publish
    row_audit_v2 = summarize(pre, "audit", n_bad)

    # quarantine: clean batch re-commits on the branch
    clean_path = os.path.join(wap_dir, "v3-clean")
    spark.read.parquet(staged_path).filter(
        F.col("o_totalprice") >= 0
    ).write.mode("overwrite").parquet(clean_path)
    m = tablelog.read_json(root)
    m["versions"]["3"] = {"groups": [v1_path, clean_path]}
    m["refs"]["audit"] = 3
    tablelog.publish_json(root, m)

    # publish: fast-forward main onto the audited version — one swap
    m = tablelog.read_json(root)
    m["refs"]["main"] = m["refs"]["audit"]
    tablelog.publish_json(root, m)

    post = tablelog.read_json(root)
    row_audit_v3 = summarize(post, "audit", 0)
    row_main_v3 = summarize(post, "main", 0)
    return (
        row_main_v1.unionAll(row_audit_v2)
        .unionAll(row_audit_v3)
        .unionAll(row_main_v3)
    )


# --- incremental commit-log consumption (round 11) --------------------------


_INCR_ORACLE = f"""
SELECT CAST(1 AS INT) AS poll, CAST(3 AS BIGINT) AS n_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events WHERE event_id % 6 IN (0, 1, 2)
UNION ALL
SELECT CAST(2 AS INT) AS poll, CAST(3 AS BIGINT) AS n_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events WHERE event_id % 6 IN (3, 4, 5)
UNION ALL
SELECT CAST(3 AS INT) AS poll, CAST(0 AS BIGINT) AS n_commits,
       CAST(0 AS BIGINT) AS n_rows, CAST(NULL AS DOUBLE) AS sum_value
"""


@query("etl_manifest_incremental_read", oracle=_INCR_ORACLE, category="K")
def etl_manifest_incremental_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL CONSUMPTION of the commit log — the table-as-a-queue
    pattern (Delta incremental reads / Iceberg incremental scan,
    public): a downstream consumer tracks an OFFSET (the first
    unconsumed commit version) and each poll reads ONLY the file groups
    of commits at or past it — change-data movement proportional to new
    commits, never a rescan of the table.

    A producer lands six commits through the same atomic-link protocol
    as ``stream_manifest_sink`` (deterministic batches: event_id mod 6
    classes). Poll 1 runs when three commits exist (consumes versions
    0-2 and advances the offset), poll 2 after three more (consumes
    ONLY 3-5 — re-reading 0-2 would double-count, which the hash gate
    would catch), and poll 3 finds an empty log tail (the no-new-data
    case every incremental consumer must handle: zero commits, zero
    rows, NULL sum). Offset advancement is law-tested.

    Scale: each poll is a metadata listing of the log tail plus pruned
    scans of ONLY the new groups; the offset is O(1) consumer state —
    exactly how streaming-into-batch handoffs avoid reprocessing at
    100 TB."""
    import shutil as _shutil

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    table_dir = artifact_path(sf_dir, "incr_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    def poll(n: int, offset: int) -> tuple[DataFrame, int]:
        """Consume commits with version >= offset — returns (report
        row, new offset)."""
        out, n_new, offset = tablelog.mlog_poll(spark, table_dir, offset)
        if out is None:
            row = spark.range(1).select(
                F.lit(n).cast("int").alias("poll"),
                F.lit(0).cast("bigint").alias("n_commits"),
                F.lit(0).cast("bigint").alias("n_rows"),
                F.lit(None).cast("double").alias("sum_value"),
            )
            return row, offset
        row = out.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        ).select(
            F.lit(n).cast("int").alias("poll"),
            F.lit(n_new).cast("bigint").alias("n_commits"),
            "n_rows",
            "sum_value",
        )
        return row, offset

    # producer: first three commits
    for i in range(3):
        tablelog.msink_commit_batch(
            table_dir, e.filter(F.col("event_id") % 6 == i), i
        )
    row1, offset = poll(1, 0)
    # producer: three more
    for i in range(3, 6):
        tablelog.msink_commit_batch(
            table_dir, e.filter(F.col("event_id") % 6 == i), i
        )
    row2, offset = poll(2, offset)
    row3, offset = poll(3, offset)
    if offset != 6:
        raise RuntimeError(f"consumer offset must end at 6, got {offset}")
    return row1.unionAll(row2).unionAll(row3)


# --- commit-log checkpointing (round 12) -------------------------------------

CHECKPOINT_INTERVAL = 4  # commits between checkpoints in the demo key


_VACUUM_ORACLE = f"""
SELECT 'vacuum' AS phase, CAST(8 AS BIGINT) AS n_deleted,
       CAST(3 AS BIGINT) AS n_kept,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
UNION ALL
SELECT 'revacuum' AS phase, CAST(0 AS BIGINT) AS n_deleted,
       CAST(3 AS BIGINT) AS n_kept,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
"""


@query("etl_manifest_vacuum", oracle=_VACUUM_ORACLE, category="K")
def etl_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM over the commit-log substrate end-to-end (round 13) — the
    storage-reclamation step that completes the OPTIMIZE story: after
    compaction + checkpoint + expiry, the replaced groups are dead
    weight no reconstructable pin can reach, and :func:`mlog_vacuum`
    reclaims them together with aborted-writer orphans and the void
    loser of a racing compaction.

    The run builds the full garbage taxonomy deterministically: six
    ``o_orderkey % 8`` slices commit (6 groups); an ABORTED writer
    leaves an uncommitted orphan dir; OPTIMIZE compacts the six
    (version 6); a RACING duplicate compaction lands at version 7
    (void by resolution — double-fold never happens); a checkpoint
    folds through v7 and the record prefix EXPIRES (pre-compaction
    pins now unreconstructable); slices 6-7 append (versions 8-9).
    Vacuum must delete exactly 8 dirs (6 replaced + 1 orphan + 1 void)
    and keep 3 (compacted + 2 appends); a second vacuum deletes 0 —
    idempotence. Both rows also report the post-vacuum read's (n_rows,
    decimal-exact sum), which must equal the FULL orders table: vacuum
    moved no live data (reads byte-stable — law-tested, including that
    pre-expiry vacuum preserves pinnable history).

    Scale: the needed-set computation is driver-side metadata over
    surviving records + checkpoints (bounded by expiry); deletion is
    one rmtree per dead group with a retention-age guard for in-flight
    writers (Delta VACUUM's threshold, public). Storage stays
    proportional to LIVE data + unexpired history, not to write
    amplification."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table_dir = artifact_path(sf_dir, "mlog_vacuum_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    for i in range(6):
        tablelog.msink_commit_batch(
            table_dir, base.filter(F.col("o_orderkey") % 8 == i), i
        )
    # aborted writer: a group lands, its commit never does
    orphan = tablelog._attempt_path(table_dir, "group", 99)
    base.limit(5).write.mode("overwrite").parquet(orphan)

    if tablelog.mlog_compact(spark, table_dir) != 6:
        raise RuntimeError("compaction must rewrite all 6 live groups")
    # racing duplicate compaction: same targets, lands second → void
    snapshot_groups = base.filter(F.col("o_orderkey") % 8 < 6)
    if (
        tablelog.msink_commit_batch(
            table_dir,
            snapshot_groups,
            "compact-racing-loser",
            extra_doc={"replaces": list(range(6)), "data_change": False},
        )
        != "committed"
    ):
        raise RuntimeError("the racing compaction must still commit")

    tablelog.mlog_checkpoint(table_dir)
    if tablelog.mlog_expire_checkpointed(table_dir) != 8:
        raise RuntimeError("expected records 0-7 to expire")
    for i in (6, 7):
        tablelog.msink_commit_batch(
            table_dir, base.filter(F.col("o_orderkey") % 8 == i), i
        )

    def report(phase: str) -> DataFrame:
        n_deleted, n_kept = tablelog.mlog_vacuum(table_dir)
        df, _, _ = tablelog.mlog_read_checkpointed(spark, table_dir)
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(phase).alias("phase"),
            F.lit(n_deleted).cast("bigint").alias("n_deleted"),
            F.lit(n_kept).cast("bigint").alias("n_kept"),
            "n_rows",
            "sum_total",
        )

    first = report("vacuum")
    first.collect()  # force the first vacuum before the second runs
    return first.unionAll(report("revacuum"))


_CLUSTER_ORACLE = f"""
WITH w AS (
  SELECT CAST(MAX(o_orderkey) // 4 + 1 AS BIGINT) AS width FROM orders)
SELECT 'narrow_premerge' AS phase, CAST(6 AS BIGINT) AS n_units_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderkey BETWEEN (SELECT width + width // 4 FROM w)
                     AND (SELECT width + width // 2 FROM w)
UNION ALL
SELECT 'narrow_clustered' AS phase, CAST(1 AS BIGINT) AS n_units_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderkey BETWEEN (SELECT width + width // 4 FROM w)
                     AND (SELECT width + width // 2 FROM w)
UNION ALL
SELECT 'full_clustered' AS phase, CAST(4 AS BIGINT) AS n_units_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
"""


@query(
    "etl_manifest_compact_cluster", oracle=_CLUSTER_ORACLE, category="K"
)
def etl_manifest_compact_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLUSTERED COMPACTION — OPTIMIZE that data skipping SURVIVES
    (round 13; the Delta OPTIMIZE ZORDER / clustered-table idea,
    public, in linear-order form). Plain OPTIMIZE and stats pruning
    are in tension: folding every group into one unit collapses the
    carried (min, max) to the full key range, so a post-compaction
    pruned read scans everything. ``mlog_compact(cluster_by=
    ['o_orderkey'])`` instead range-partitions the rewrite into 4
    range-DISJOINT subgroups inside the ONE atomic replacement commit,
    each carrying exact per-column stats recomputed from the data it
    actually holds.

    Six ``o_orderkey % 6`` slices of orders commit — mod-slicing is
    the pruning worst case: every group's (min, max) spans the full
    key range, so NO range predicate can skip anything. The probes
    (phase, units-scanned, n_rows, decimal-exact sum; the narrow
    predicate is the quarter-width span [w+w/4, w+w/2] — strictly
    inside the second population quartile at every fixture scale, with
    ~0.25-quartile margins dwarfing the boundary sketch's 0.001
    relative error):

    - 'narrow_premerge': all 6 units scanned — useless stats, the
      documented worst case;
    - 'narrow_clustered': after clustered OPTIMIZE **+ checkpoint +
      log expiry** (so the subgroup stats provably come from the
      checkpoint's copy of the commit doc, not the records), the SAME
      predicate scans exactly ONE subgroup;
    - 'full_clustered': an unbounded predicate scans all 4 subgroups
      and returns the untouched full table — clustering moved rows,
      never semantics (the hash gate sees rows + sum).

    Scale: this is how a 100 TB table keeps both halves of the
    metadata story — O(1) scan units from compaction AND
    zero-I/O-for-pruned-ranges from skipping; the rewrite adds one
    boundary sketch (``approxQuantile``, the public Greenwald-Khanna
    summary) and one ≤4-row stats aggregate to the one distributed
    rewrite pass. Laws (reader equivalence, pruning == filtering,
    conservative stats omission) in tests/test_round13_semantics.py."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table_dir = artifact_path(sf_dir, "compact_cluster_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    for i in range(6):
        sl = base.filter(F.col("o_orderkey") % 6 == i)
        mn, mx = sl.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
        tablelog.msink_commit_batch(
            table_dir,
            sl,
            i,
            stats={"o_orderkey": {"min": mn, "max": mx}},
        )

    max_key = base.agg(F.max("o_orderkey")).first()[0]
    width = max_key // 4 + 1
    lo, hi = width + width // 4, width + width // 2

    def report(phase: str, pred_lo: int, pred_hi: int) -> DataFrame:
        df, n = tablelog.mlog_read_pruned_cols(
            spark, table_dir, {"o_orderkey": (pred_lo, pred_hi)}
        )
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(phase).alias("phase"),
            F.lit(n).cast("bigint").alias("n_units_scanned"),
            "n_rows",
            "sum_total",
        )

    before = report("narrow_premerge", lo, hi)
    before.collect()  # pin the BEFORE probe before mutating the log

    if tablelog.mlog_compact(
        spark, table_dir, cluster_by=["o_orderkey"], n_groups=4
    ) != 6:
        raise RuntimeError("clustered compaction must rewrite 6 groups")
    tablelog.mlog_checkpoint(table_dir)
    # expire the records: subgroup stats now provably come from the
    # checkpoint's verbatim copy of the compaction doc
    tablelog.mlog_expire_checkpointed(table_dir)

    return (
        before
        .unionAll(report("narrow_clustered", lo, hi))
        .unionAll(report("full_clustered", 0, 1 << 62))
    )


_RESTORE_ORACLE = f"""
SELECT 'head_before' AS phase, CAST(4 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
UNION ALL
SELECT 'after_restore' AS phase, CAST(3 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders WHERE o_orderkey % 4 < 3
UNION ALL
SELECT 'history_kept' AS phase, CAST(4 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
UNION ALL
SELECT 'head_final' AS phase, CAST(4 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
"""


@query("etl_manifest_restore", oracle=_RESTORE_ORACLE, category="K")
def etl_manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY RESTORE over the commit log (round 13) — Delta's
    RESTORE TABLE ... TO VERSION AS OF (public): one commit whose
    ``subgroups`` re-pin the historical snapshot's still-present group
    directories and whose ``replaces`` supersedes every live version.
    Zero data moves; the head flips with one atomic link; history
    stays immutable underneath.

    Four ``o_orderkey % 4`` slices commit (versions 0-3); the probes
    (phase, live-group accounting via the stats reader's unbounded
    predicate, n_rows, decimal-exact sum):

    - 'head_before': 4 live groups, full table;
    - ``mlog_restore(table, 2)`` → 'after_restore': the head is the
      3-slice snapshot (slices 0-2), 3 re-pinned units — the bad
      version-3 batch is gone from the head without a rewrite;
    - 'history_kept': an as-of read pinned at the PRE-restore head
      (version 3) still folds the full table (n = the as-of tail
      count) — restore rewinds the head, never history;
    - slice 3 re-appends as a NEW batch → 'head_final': 4 units
      (3 re-pinned + 1 append), full table again — the log moves
      forward normally after a restore.

    Scale: restore cost is O(snapshot docs) of driver-side JSON + one
    link — independent of data size; the restored read plans exactly
    like any other (the re-pinned units carry their original stats, so
    data skipping still works on them). Laws (restore == as-of,
    vacuum keeps re-pinned dirs, racing restore/compaction voids
    deterministically, feed re-delivery) in
    tests/test_round13_semantics.py."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table_dir = artifact_path(sf_dir, "restore_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    for i in range(4):
        tablelog.msink_commit_batch(
            table_dir, base.filter(F.col("o_orderkey") % 4 == i), i
        )

    def live_read(phase: str) -> DataFrame:
        df, n = tablelog.mlog_read_pruned_cols(
            spark, table_dir, {"o_orderkey": (0, 1 << 62)}
        )
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(phase).alias("phase"),
            F.lit(n).cast("bigint").alias("n_live_groups"),
            "n_rows",
            "sum_total",
        )

    def report(phase: str, n: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(phase).alias("phase"),
            F.lit(n).cast("bigint").alias("n_live_groups"),
            "n_rows",
            "sum_total",
        )

    head_before = live_read("head_before")
    head_before.collect()  # pin the BEFORE probe before the restore

    if tablelog.mlog_restore(table_dir, 2) != 3:
        raise RuntimeError("restore must re-pin the 3-slice snapshot")
    after = live_read("after_restore")
    after.collect()  # pin before the log mutates again

    asof_df, _, n_tail = tablelog.mlog_read_asof(spark, table_dir, 3)
    history = report("history_kept", n_tail, asof_df)

    tablelog.msink_commit_batch(
        table_dir, base.filter(F.col("o_orderkey") % 4 == 3), 100
    )
    final = live_read("head_final")

    return (
        head_before.unionAll(after).unionAll(history).unionAll(final)
    )


_CKPT_COMMITS = 10  # demo log length: two checkpoints + a 2-commit tail


def _build_mod10_log(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Shared demo producer for the checkpointing keys: land the events
    table as 10 disjoint ``event_id % 10`` slices through the
    exactly-once append protocol, checkpointing every
    ``CHECKPOINT_INTERVAL`` commits (versions 3 and 7). Returns the
    table dir (recreated — idempotent re-run)."""
    import shutil as _shutil

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    table_dir = artifact_path(sf_dir, name)
    _shutil.rmtree(table_dir, ignore_errors=True)
    for i in range(_CKPT_COMMITS):
        tablelog.msink_commit_batch(
            table_dir, e.filter(F.col("event_id") % _CKPT_COMMITS == i), i
        )
        if (i + 1) % CHECKPOINT_INTERVAL == 0:
            tablelog.mlog_checkpoint(table_dir)
    return table_dir


_CKPT_ORACLE = f"""
SELECT 'full_log' AS reader, CAST(0 AS BIGINT) AS n_from_checkpoint,
       CAST({_CKPT_COMMITS} AS BIGINT) AS n_tail_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events
UNION ALL
SELECT 'checkpointed' AS reader, CAST(8 AS BIGINT) AS n_from_checkpoint,
       CAST(2 AS BIGINT) AS n_tail_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events
UNION ALL
SELECT 'post_expire' AS reader, CAST(8 AS BIGINT) AS n_from_checkpoint,
       CAST(2 AS BIGINT) AS n_tail_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events
"""


@query("etl_manifest_checkpoint", oracle=_CKPT_ORACLE, category="K")
def etl_manifest_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMIT-LOG CHECKPOINTING end-to-end (VERDICT r11 ask #3): a
    producer lands 10 commits (deterministic event_id mod-10 slices)
    through the exactly-once append protocol, checkpointing every
    CHECKPOINT_INTERVAL=4 commits — so checkpoints exist at versions 3
    and 7 and the log ends with a 2-commit tail. Three readers prove
    the composition:

    - ``full_log``: folds all 10 commit records (:func:`msink_read`),
      the pre-checkpoint baseline.
    - ``checkpointed``: resolves ``_last_checkpoint`` → folds the v7
      checkpoint (8 groups by reference) + the 2-commit tail ONLY.
      Must equal ``full_log`` row-for-row (the hash gate sees both).
    - ``post_expire``: after :func:`mlog_expire_checkpointed` deletes
      the 8 folded commit records, the checkpointed reader still
      reproduces the identical table — the checkpoint made the log
      prefix disposable, which is what bounds log growth at a real
      commit cadence (thousands of commits between compactions).

    Exactness: every event lands in exactly one mod-slice commit, so
    each reader's (n_rows, decimal-exact sum) equals the full events
    table; the checkpoint/tail split (8, 2) is deterministic from the
    interval.

    Scale: checkpoint write is amortized O(1) metadata per commit;
    the checkpointed read plans from one checkpoint JSON + O(tail)
    records instead of O(log length); expiry keeps the log bounded.
    Data files are never copied — the checkpoint carries groups by
    reference."""
    table_dir = _build_mod10_log(spark, sf_dir, "ckpt_table")

    def report(reader: str, df: DataFrame, n_cp: int, n_tail: int) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        ).select(
            F.lit(reader).alias("reader"),
            F.lit(n_cp).cast("bigint").alias("n_from_checkpoint"),
            F.lit(n_tail).cast("bigint").alias("n_tail_commits"),
            "n_rows",
            "sum_value",
        )

    full = report(
        "full_log", tablelog.msink_read(spark, table_dir), 0, _CKPT_COMMITS
    )
    df1, n_cp1, n_tail1 = tablelog.mlog_read_checkpointed(spark, table_dir)
    ckpt = report("checkpointed", df1, n_cp1, n_tail1)
    n_expired = tablelog.mlog_expire_checkpointed(table_dir)
    if n_expired != 8:
        raise RuntimeError(f"expected to expire 8 folded commits, got {n_expired}")
    df2, n_cp2, n_tail2 = tablelog.mlog_read_checkpointed(spark, table_dir)
    post = report("post_expire", df2, n_cp2, n_tail2)
    return full.unionAll(ckpt).unionAll(post)


_ASOF_ORACLE = f"""
SELECT CAST(2 AS INT) AS asof_version, CAST(0 AS BIGINT) AS n_from_checkpoint,
       CAST(3 AS BIGINT) AS n_tail_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events WHERE event_id % 10 <= 2
UNION ALL
SELECT CAST(5 AS INT) AS asof_version, CAST(4 AS BIGINT) AS n_from_checkpoint,
       CAST(2 AS BIGINT) AS n_tail_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events WHERE event_id % 10 <= 5
UNION ALL
SELECT CAST(9 AS INT) AS asof_version, CAST(8 AS BIGINT) AS n_from_checkpoint,
       CAST(2 AS BIGINT) AS n_tail_commits,
       {BIGCOUNT("*")} AS n_rows, {DSUM("value")} AS sum_value
FROM events
"""


@query("etl_manifest_asof_read", oracle=_ASOF_ORACLE, category="K")
def etl_manifest_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-AWARE TIME TRAVEL on the commit log — the read-side
    completion of ``etl_manifest_checkpoint``: an AS-OF read pinned to
    version V resolves the newest checkpoint ≤ V plus ONLY the commit
    tail in (checkpoint, V] (Delta's documented time-travel resolution,
    public), so reconstructing ANY historical version costs O(1)
    checkpoint + O(tail), never a fold of the whole log.

    Same 10-commit mod-10 log as the checkpoint key (checkpoints at
    versions 3 and 7); three pins prove the resolution picks the right
    checkpoint each time:

    - V=2 (PREDATES the first checkpoint): no covering checkpoint,
      pure 3-commit tail fold → slices 0-2.
    - V=5 (between checkpoints): checkpoint@3 (4 groups) + tail {4,5}
      → slices 0-5.
    - V=9 (log head): checkpoint@7 (8 groups) + tail {8,9} → the full
      events table, identical to the live read.

    Exactness: mod-slices are disjoint and exhaustive, so each pin's
    (n_rows, decimal-exact sum) is a closed-form predicate over events;
    the (n_from_checkpoint, n_tail) split is deterministic from the
    interval. History-expiry semantics (pins below an expired prefix
    raise, pins at/after the covering checkpoint survive expiry) are
    law-tested in tests/test_round12_semantics.py.

    Scale: version pins are how 100 TB deployments reproduce training
    snapshots and audits; checkpoint-aware resolution keeps that read
    O(tail) at a commit cadence of thousands, and immutable
    commits/checkpoints give pinned reads snapshot isolation under
    concurrent appends for free."""
    table_dir = _build_mod10_log(spark, sf_dir, "asof_table")

    def report(v: int) -> DataFrame:
        df, n_cp, n_tail = tablelog.mlog_read_asof(spark, table_dir, v)
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        ).select(
            F.lit(v).cast("int").alias("asof_version"),
            F.lit(n_cp).cast("bigint").alias("n_from_checkpoint"),
            F.lit(n_tail).cast("bigint").alias("n_tail_commits"),
            "n_rows",
            "sum_value",
        )

    return report(2).unionAll(report(5)).unionAll(report(9))


# --- checkpoint-carried stats pruning (round 12) -----------------------------

CKPT_STATS_GROUPS = 8  # key-range commits in the stats-skipping demo

_CKPT_SKIP_ORACLE = f"""
WITH w AS (
  SELECT CAST(MAX(o_orderkey) // {CKPT_STATS_GROUPS} + 1 AS BIGINT) AS width
  FROM orders)
SELECT 'full' AS predicate,
       CAST({CKPT_STATS_GROUPS} AS BIGINT) AS n_groups_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
UNION ALL
SELECT 'mid' AS predicate, CAST(3 AS BIGINT) AS n_groups_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderkey BETWEEN (SELECT width + width // 2 FROM w)
                     AND (SELECT 3 * width + width // 2 FROM w)
UNION ALL
SELECT 'narrow' AS predicate, CAST(1 AS BIGINT) AS n_groups_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderkey BETWEEN (SELECT 5 * width FROM w)
                     AND (SELECT 5 * width + width // 3 FROM w)
"""


@query("etl_manifest_ckpt_stats_skip", oracle=_CKPT_SKIP_ORACLE, category="K")
def etl_manifest_ckpt_stats_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCAN PLANNING FROM THE CHECKPOINT — per-group column stats ride
    in each commit doc (``msink_commit_batch(stats=...)``), fold
    verbatim into checkpoints, and drive data skipping at read time:
    the composition that makes a 100 TB commit log PLANNABLE (Delta
    checkpoints carry per-file stats for exactly this, public; the
    file-skipping decision itself mirrors `etl_manifest_file_skipping`,
    one level up — prune from metadata BEFORE any task or footer read).

    Eight key-range commits of orders (width = max_key//8+1) land with
    their actual per-group (min_key, max_key); a checkpoint folds them;
    the log prefix is EXPIRED — so the stats available to the reader
    are provably the checkpoint's copy, not the commit records'. Three
    reads: 'full' (all 8 groups), 'mid' (a 2-width span straddling
    groups 1-3), 'narrow' (a third-width span inside group 5). Each
    row reports groups-scanned + (n_rows, decimal-exact sum) of the
    predicate — the oracle recomputes the same ranges from the same
    width formula, and the hash gate fails if pruning dropped a group
    it needed or scanned one it didn't.

    Exactness: key-range slices put every group's true min/max within a
    few keys of its slice edges while the probe bounds sit mid-slice,
    so the overlap set is deterministic at every fixture scale.

    Scale: the pruning decision is O(groups) metadata driver-side —
    zero I/O for pruned groups; scanned groups get ordinary pushed-
    filter parquet scans (plan-pinned: 'narrow' plans exactly one group
    scan). Stats cost one aggregate per commit at write time —
    manifest-grade metadata, amortized into the batch write."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table_dir = artifact_path(sf_dir, "ckpt_stats_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    max_key = base.agg(F.max("o_orderkey")).first()[0]
    width = max_key // CKPT_STATS_GROUPS + 1
    for i in range(CKPT_STATS_GROUPS):
        sl = base.filter(
            F.col("o_orderkey").between(i * width, (i + 1) * width - 1)
        )
        mn, mx = sl.agg(
            F.min("o_orderkey"), F.max("o_orderkey")
        ).first()
        tablelog.msink_commit_batch(
            table_dir, sl, i, stats={"min_key": mn, "max_key": mx}
        )
    tablelog.mlog_checkpoint(table_dir)
    # expire the log: the reader's stats now come from the checkpoint
    if tablelog.mlog_expire_checkpointed(table_dir) != CKPT_STATS_GROUPS:
        raise RuntimeError("expected the full log prefix to expire")

    def report(label: str, lo: int, hi: int) -> DataFrame:
        df, n_groups = tablelog.mlog_read_pruned(spark, table_dir, lo, hi)
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(label).alias("predicate"),
            F.lit(n_groups).cast("bigint").alias("n_groups_scanned"),
            "n_rows",
            "sum_total",
        )

    return (
        report("full", 0, max_key)
        .unionAll(
            report("mid", width + width // 2, 3 * width + width // 2)
        )
        .unionAll(report("narrow", 5 * width, 5 * width + width // 3))
    )


_CKPT_MULTI_ORACLE = f"""
WITH w AS (
  SELECT CAST(MAX(o_orderkey) // 4 + 1 AS BIGINT) AS width FROM orders)
SELECT 'key_only' AS predicate, CAST(2 AS BIGINT) AS n_groups_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderkey BETWEEN (SELECT 2 * width FROM w)
                     AND (SELECT 3 * width - 1 FROM w)
UNION ALL
SELECT 'date_only' AS predicate, CAST(4 AS BIGINT) AS n_groups_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1995-06-01 00:00:00'
                      AND TIMESTAMP '1997-06-01 00:00:00'
UNION ALL
SELECT 'conj' AS predicate, CAST(1 AS BIGINT) AS n_groups_scanned,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
WHERE o_orderkey BETWEEN (SELECT width FROM w)
                     AND (SELECT 2 * width - 1 FROM w)
  AND o_orderdate BETWEEN TIMESTAMP '1998-01-01 00:00:00'
                      AND TIMESTAMP '2001-12-31 00:00:00'
"""


@query(
    "etl_manifest_ckpt_stats_multi", oracle=_CKPT_MULTI_ORACLE, category="K"
)
def etl_manifest_ckpt_stats_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-COLUMN data skipping from the checkpoint (VERDICT r12 ask
    #4) — commit docs carry a PER-COLUMN stats map ``{col: {min, max}}``
    (the shape Delta/Iceberg checkpoint stats actually take, public)
    and :func:`mlog_read_pruned_cols` prunes on a CONJUNCTIVE predicate
    spec: one disjoint column skips the group, a column without stats
    can never prune it.

    Orders lands as 4 key-range slices × 2 order-date classes (split at
    1998-01-01) = 8 groups, each committing its true per-group
    (o_orderkey, o_orderdate) min/max — timestamps serialize as ISO
    strings, whose lexicographic order IS timestamp order, so the JSON
    stats stay comparable. A checkpoint folds the stats maps verbatim
    and the log prefix is EXPIRED — pruning provably runs off the
    checkpoint's copy. Three probes: 'key_only' (one key slice → its 2
    date classes), 'date_only' (an interior 1995-06..1997-06 window →
    the 4 early classes), 'conj' (slice 1 AND post-1998 → exactly 1
    group). Each row reports groups-scanned + (n_rows, decimal-exact
    sum); the oracle recomputes the same predicates relationally, so
    the hash gate fails if pruning dropped a needed group or scanned a
    pruned one.

    Exactness: the fixture's order dates span 1995-01-01..2001-08-01
    with 150+ rows per group at every scale, so each class's true
    min/max pins the same side of every probe bound at sf0.001/0.01/0.1.

    Scale: the pruning decision is O(groups × predicate columns)
    driver-side metadata, zero I/O for pruned groups; survivors fold in
    ONE multi-path scan with both predicates pushed down. Per-column
    maps cost one small aggregate per commit at write time."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    table_dir = artifact_path(sf_dir, "ckpt_stats_multi_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    max_key = base.agg(F.max("o_orderkey")).first()[0]
    width = max_key // 4 + 1
    split = F.lit("1998-01-01 00:00:00").cast("timestamp")
    bid = 0
    for i in range(4):
        sl = base.filter(
            F.col("o_orderkey").between(i * width, (i + 1) * width - 1)
        )
        for cls in (
            sl.filter(F.col("o_orderdate") < split),
            sl.filter(F.col("o_orderdate") >= split),
        ):
            kmin, kmax, dmin, dmax = cls.agg(
                F.min("o_orderkey"),
                F.max("o_orderkey"),
                F.min("o_orderdate"),
                F.max("o_orderdate"),
            ).first()
            if kmin is None:
                raise RuntimeError(
                    f"empty slice×class group {bid}: the fixture no "
                    "longer populates both date classes of every slice"
                )
            tablelog.msink_commit_batch(
                table_dir,
                cls,
                bid,
                stats={
                    "o_orderkey": {"min": kmin, "max": kmax},
                    "o_orderdate": {
                        "min": dmin.isoformat(sep=" "),
                        "max": dmax.isoformat(sep=" "),
                    },
                },
            )
            bid += 1
    tablelog.mlog_checkpoint(table_dir)
    # expire the log: pruning now provably reads the checkpoint's stats
    if tablelog.mlog_expire_checkpointed(table_dir) != 8:
        raise RuntimeError("expected the full log prefix to expire")

    def report(label: str, pred: dict) -> DataFrame:
        df, n_groups = tablelog.mlog_read_pruned_cols(spark, table_dir, pred)
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(label).alias("predicate"),
            F.lit(n_groups).cast("bigint").alias("n_groups_scanned"),
            "n_rows",
            "sum_total",
        )

    return (
        report("key_only", {"o_orderkey": (2 * width, 3 * width - 1)})
        .unionAll(
            report(
                "date_only",
                {
                    "o_orderdate": (
                        "1995-06-01 00:00:00",
                        "1997-06-01 00:00:00",
                    )
                },
            )
        )
        .unionAll(
            report(
                "conj",
                {
                    "o_orderkey": (width, 2 * width - 1),
                    "o_orderdate": (
                        "1998-01-01 00:00:00",
                        "2001-12-31 00:00:00",
                    ),
                },
            )
        )
    )


_COMPACT_ORACLE = f"""
SELECT 'before' AS phase, CAST(6 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders WHERE o_orderkey % 8 < 6
UNION ALL
SELECT 'after_compact' AS phase, CAST(1 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders WHERE o_orderkey % 8 < 6
UNION ALL
SELECT 'asof_pre' AS phase, CAST(6 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders WHERE o_orderkey % 8 < 6
UNION ALL
SELECT 'final' AS phase, CAST(3 AS BIGINT) AS n_live_groups,
       {BIGCOUNT("*")} AS n_rows, {DSUM("o_totalprice")} AS sum_total
FROM orders
"""


@query(
    "etl_manifest_compact_optimize", oracle=_COMPACT_ORACLE, category="K"
)
def etl_manifest_compact_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRANSACTIONAL COMPACTION of the commit log — OPTIMIZE with
    snapshot isolation (round 13; Delta OPTIMIZE / Iceberg rewrite_data_files,
    public): :func:`mlog_compact` rewrites the live groups into ONE and
    publishes the replacement through the same atomic link as any
    commit, carrying ``replaces`` + ``data_change: false`` — readers
    see old groups or the compacted one, never both; time travel to a
    pre-compaction pin still folds the originals; change feeds skip the
    rewrite.

    Six ``o_orderkey % 8`` slices (0-5) of orders land as separate
    commits; the probes report the LIVE group count (via the stats
    reader's group accounting on an unbounded predicate — pruning
    disabled, so n = live groups) + (n_rows, decimal-exact sum):

    - 'before': 6 live groups;
    - 'after_compact': ONE live group, identical rows/sum — compaction
      moved data, not semantics (the hash gate sees both);
    - 'asof_pre': an as-of read pinned at the pre-compaction head
      version (5) folds the 6 ORIGINAL groups (n = the as-of reader's
      commit-tail count) — history is immutable;
    - 'final': two more slices (6, 7) append AFTER compaction — 3 live
      groups (compacted + 2 appends), totals now the full orders table:
      appends compose with compaction without rewrites.

    Scale: this is the read-amplification lever at a real commit
    cadence — thousands of small groups fold back to O(1) scan units in
    one distributed rewrite + one commit record; nothing rewrites on
    the append path. Laws (equivalence across every reader, racing
    compactions resolving deterministically, feed-skip, post-expiry
    behavior) in tests/test_round13_semantics.py."""
    import shutil as _shutil

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table_dir = artifact_path(sf_dir, "compact_optimize_table")
    _shutil.rmtree(table_dir, ignore_errors=True)  # idempotent re-run

    for i in range(6):
        tablelog.msink_commit_batch(
            table_dir, base.filter(F.col("o_orderkey") % 8 == i), i
        )

    def report(phase: str, n_groups: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        ).select(
            F.lit(phase).alias("phase"),
            F.lit(n_groups).cast("bigint").alias("n_live_groups"),
            "n_rows",
            "sum_total",
        )

    def live_read(phase: str) -> DataFrame:
        # an unbounded predicate disables pruning, so the stats
        # reader's group count IS the live-group count
        df, n = tablelog.mlog_read_pruned_cols(
            spark, table_dir, {"o_orderkey": (0, 1 << 62)}
        )
        return report(phase, n, df)

    before = live_read("before")
    before.collect()  # pin the BEFORE snapshot before mutating the log

    if tablelog.mlog_compact(spark, table_dir) != 6:
        raise RuntimeError("compaction must rewrite all 6 live groups")
    after = live_read("after_compact")

    asof_df, _, n_tail = tablelog.mlog_read_asof(spark, table_dir, 5)
    asof = report("asof_pre", n_tail, asof_df)

    for i in (6, 7):
        tablelog.msink_commit_batch(
            table_dir, base.filter(F.col("o_orderkey") % 8 == i), i
        )
    final = live_read("final")

    return before.unionAll(after).unionAll(asof).unionAll(final)

