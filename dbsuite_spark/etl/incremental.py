"""Incremental warehouse maintenance — materialized-view delta merge and
partitioned backfill (dynamic partition overwrite).

Reference scope: scheduled MV refresh and partition-level reload are the
bread-and-butter of the reference's ETL orchestration [PUBLIC,
module-level; checkout empty — SURVEY §0].

Scale design (100 TB):
- ``etl_incremental_mv`` proves the *incremental* refresh contract: the
  delta batch partial-aggregates map-side, then merges with the stored MV
  by a full-outer join on the group key — cost proportional to
  |delta| + |MV|, never to the base table. Partial sums are kept in
  DECIMAL(18,6) **inside the stored MV** so incremental maintenance is
  bit-identical to a full recompute (decimal addition commutes; summing
  doubles would drift) — the oracle IS the full recompute.
- ``etl_backfill_partitions`` proves partition-scoped rewrite: the
  corrections batch touches 3 partitions; with
  ``partitionOverwriteMode=dynamic`` Spark replaces exactly those
  directories and never reads or rewrites the other ~97% of the table —
  the only sane backfill at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.etl.io import artifact_path
from dbsuite_spark.exact import BIGCOUNT, DEC, DSUM, MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

DELTA_MOD = 20  # o_orderkey % 20 == 0 → the "new batch" slice
BACKFILL_DAYS = 3


@query(
    "etl_incremental_mv",
    oracle=f"""
SELECT o_custkey, {BIGCOUNT("*")} AS n_orders,
       {DSUM("o_totalprice")} AS total_spent
FROM orders GROUP BY o_custkey
""",
    category="K",
)
def etl_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the per-customer order MV is
    built from the historical slice, stored with its partial sum in
    DECIMAL(18,6), then a delta batch is partial-aggregated and merged by
    full-outer join — coalesce counts, add exact decimals. Because decimal
    partials commute, the incrementally-maintained MV hashes identically
    to the oracle's full recompute."""
    o = t(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("total_dec"),
        )

    mv_path = artifact_path(sf_dir, "mv_cust_orders")
    partial(o.filter(F.col("o_orderkey") % DELTA_MOD != 0)).write.mode(
        "overwrite"
    ).parquet(mv_path)

    mv = spark.read.parquet(mv_path)
    delta = partial(o.filter(F.col("o_orderkey") % DELTA_MOD == 0))
    merged = (
        mv.select(
            F.col("o_custkey"),
            F.col("n_orders").alias("n0"),
            F.col("total_dec").alias("t0"),
        )
        .join(
            delta.select(
                F.col("o_custkey"),
                F.col("n_orders").alias("n1"),
                F.col("total_dec").alias("t1"),
            ),
            "o_custkey",
            "full_outer",
        )
        .select(
            "o_custkey",
            (
                F.coalesce(F.col("n0"), F.lit(0))
                + F.coalesce(F.col("n1"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("t0"), F.lit(0).cast(DEC))
                + F.coalesce(F.col("t1"), F.lit(0).cast(DEC))
            )
            .cast("double")
            .alias("total_spent"),
        )
    )
    return merged


@query(
    "etl_backfill_partitions",
    oracle=f"""
WITH fix AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
             ORDER BY d LIMIT {BACKFILL_DAYS})
SELECT event_id, user_id, event_type, value * 2.0 AS value,
       CAST(ts AS DATE) AS event_date
FROM events WHERE CAST(ts AS DATE) IN (SELECT d FROM fix)
UNION ALL
SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS event_date
FROM events WHERE CAST(ts AS DATE) NOT IN (SELECT d FROM fix)
""",
    category="K",
)
def etl_backfill_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped backfill: events land partitioned by event_date;
    a corrections batch (value doubled for the 3 earliest days) is then
    written with dynamic partition overwrite, which replaces exactly the
    3 affected directories — no read or rewrite of the untouched ~97%.
    The corrected dates come from a 3-row broadcast semi-join, not a
    driver collect; doubling is exact in IEEE, so the read-back table
    hashes against the oracle's CASE-rewrite."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    tbl = artifact_path(sf_dir, "events_by_date")
    e.write.mode("overwrite").partitionBy("event_date").parquet(tbl)

    fix_days = (
        e.select("event_date").distinct().orderBy("event_date")
        .limit(BACKFILL_DAYS)
    )
    corrections = e.join(
        F.broadcast(fix_days), "event_date", "left_semi"
    ).withColumn("value", F.col("value") * 2.0)

    # Pin-and-restore: leaving dynamic mode set would silently change the
    # overwrite semantics of every later partitioned write on this session.
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            corrections.select(
                "event_id", "user_id", "event_type", "value", "event_date"
            )
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(tbl)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", old_mode
        )
    back = spark.read.parquet(tbl)
    return back.select(
        "event_id", "user_id", "event_type", "value",
        F.col("event_date").cast("date").alias("event_date"),
    )


@query(
    "etl_cdc_apply",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey,
       CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 500.0
            ELSE s_acctbal END AS s_acctbal
FROM supplier WHERE s_suppkey % 13 <> 0
UNION ALL
SELECT s_suppkey + 500000 AS s_suppkey, 'NEW ' || s_name AS s_name,
       s_nationkey, 0.0 AS s_acctbal
FROM supplier WHERE s_suppkey % 11 = 0
""",
    category="K",
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application with full I/U/D semantics (the piece
    ``etl_merge_upsert`` lacks: deletes): a deterministic ordered change
    log — updates (seq 1), deletes (seq 2), inserts (seq 3) — applies to
    the snapshot by latest-op-per-key: one window over (key, seq DESC),
    keep rank 1, drop keys whose latest op is D. One shuffle on the key;
    log replay is idempotent and order-exact at any scale (this is how a
    Debezium/DMS feed lands on plain columnar storage). The oracle is the
    algebraic end-state of the same log."""
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    s = t(spark, sf_dir, "supplier").select(*cols)
    snap = s.select(
        *cols, F.lit(0).alias("seq"), F.lit("S").alias("op")
    )
    updates = (
        s.filter(F.col("s_suppkey") % 7 == 0)
        .withColumn("s_acctbal", F.col("s_acctbal") + 500.0)
        .select(*cols, F.lit(1).alias("seq"), F.lit("U").alias("op"))
    )
    deletes = s.filter(F.col("s_suppkey") % 13 == 0).select(
        *cols, F.lit(2).alias("seq"), F.lit("D").alias("op")
    )
    inserts = (
        s.filter(F.col("s_suppkey") % 11 == 0)
        .select(
            (F.col("s_suppkey") + 500000).alias("s_suppkey"),
            F.concat(F.lit("NEW "), F.col("s_name")).alias("s_name"),
            F.col("s_nationkey"),
            F.lit(0.0).alias("s_acctbal"),
        )
        .select(*cols, F.lit(3).alias("seq"), F.lit("I").alias("op"))
    )
    combined = snap.unionByName(updates).unionByName(deletes).unionByName(
        inserts
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("s_suppkey").orderBy(F.desc("seq"))
    return (
        combined.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(*cols)
    )


FORGET_MOD = 50  # ~2% of users are deterministic "forget-me" requests


_FORGET_ORACLE = f"""
WITH forget AS (
  SELECT DISTINCT user_id FROM events
  WHERE {MD5_BIGINT("CAST(user_id AS VARCHAR)")} % {FORGET_MOD} = 0),
before AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rows_before
  FROM events GROUP BY event_type),
gone AS (
  SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS rows_deleted
  FROM events e JOIN forget f ON e.user_id = f.user_id
  GROUP BY e.event_type)
SELECT b.event_type, b.rows_before,
       CAST(COALESCE(g.rows_deleted, 0) AS BIGINT) AS rows_deleted,
       CAST(b.rows_before - COALESCE(g.rows_deleted, 0) AS BIGINT)
         AS rows_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM forget) AS n_users_forgotten
FROM before b LEFT JOIN gone g ON b.event_type = g.event_type
"""


@query("etl_row_level_delete", oracle=_FORGET_ORACLE, category="K")
def etl_row_level_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: a deterministic ~2% of users
    (md5 coin — standing in for the day's deletion-request table) are
    removed from the events fact via anti-join, and the key emits the
    audit table compliance actually wants: per event type, rows before,
    rows deleted, rows after, plus the forgotten-user count. The
    anti-join rewrite is the environment's substitute for Delta's
    ``DELETE WHERE`` (same note as ``etl_merge_upsert``).

    Scale: the request table is tiny → broadcast anti/semi joins against
    the fact, one scan each for the audit counts (partial+final); in
    production the delete rewrites only the partitions holding matches
    (partition pruning on the join key's bucket), not the full fact."""
    e = t(spark, sf_dir, "events")
    forget = (
        e.select("user_id")
        .distinct()
        .filter(
            md5_bigint(F.col("user_id").cast("string")) % FORGET_MOD == 0
        )
    )
    before = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("rows_before")
    )
    gone = (
        e.join(F.broadcast(forget), "user_id")
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("rows_deleted"))
    )
    n_forgot = forget.agg(
        F.count("*").cast("bigint").alias("n_users_forgotten")
    )
    return (
        before.join(gone, "event_type", "left")
        .crossJoin(F.broadcast(n_forgot))
        .select(
            "event_type",
            "rows_before",
            F.coalesce("rows_deleted", F.lit(0))
            .cast("bigint")
            .alias("rows_deleted"),
            (
                F.col("rows_before") - F.coalesce("rows_deleted", F.lit(0))
            )
            .cast("bigint")
            .alias("rows_after"),
            "n_users_forgotten",
        )
    )
