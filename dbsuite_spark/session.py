"""SparkSession factory tuned for correctness-vs-oracle and local bench runs.

At 100 TB the same settings generalize: AQE handles skew/coalescing at any
scale, shuffle partitions are sized by the driver env (small locally, large
on a cluster), and the session timezone is pinned UTC so timestamp semantics
are engine-independent (SURVEY §7.4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The runtime SQL confs every session gets, from get_spark's builder or
# tune_session on a driver-owned session; shuffle width is set beside them.
#
# preferSortMergeJoin=false (round 13, guide §3.1/§9) lets the planner
# pick shuffled-hash join when its size conditions hold — SHJ skips both
# sides' sorts, and the flip measured faster-or-equal on every
# shuffled-join headline key (interleaved same-session at sf0.1: tpch_q5
# 7/9 rounds, tpch_q9 7/9, join_multiway_star 6/9; bucketed/broadcast/
# hinted plans unchanged — the bucket-aligned SMJ keeps its no-exchange,
# no-sort shape because no exchange is planned at all). NOT a local-only
# tune: Spark still guards SHJ behind canBuildLocalHashMap (per-partition
# build must fit), AQE skew splitting applies to SHJ, and sort-merge
# remains available via hint; on a cluster where a build side might
# exceed task memory, set SPARK_GRAFT_PREFER_SMJ=true to restore the
# default.
SQL_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.cbo.enabled", "true"),
    ("spark.sql.autoBroadcastJoinThreshold", "64m"),
    (
        "spark.sql.join.preferSortMergeJoin",
        os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
    ),
)


def get_spark(
    app_name: str = "dbsuite-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, val in SQL_CONFS:
        builder = builder.config(key, val)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable correctness + performance configs to an
    externally-created session (the driver owns the session for
    ``entry()``/``queries()``). Everything here is a runtime conf: a
    vanilla session defaults to 200 shuffle partitions, which at test
    scale means 6x-too-wide shuffles and, for stateful streaming, 200
    state-store commits per micro-batch."""
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
    for key, val in SQL_CONFS + (("spark.sql.shuffle.partitions", shuffle),):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # static conf in some deployments; harmless
    return spark


_TUNED_FLAG = "spark.dbsuite.tuned"


def ensure_tuned(spark: SparkSession) -> SparkSession:
    """Idempotently tune a session; memoized via a session conf flag so
    the per-query cost after the first call is one conf read. Registered
    queries call this on entry because the driver may run ``queries()``
    against a session that never went through ``entry()``/``get_spark``."""
    if spark.conf.get(_TUNED_FLAG, "0") != "1":
        tune_session(spark)
        spark.conf.set(_TUNED_FLAG, "1")
    return spark
