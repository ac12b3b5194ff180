"""Category K — data-quality checks as queries (SURVEY §2K
``etl_data_quality``): the in-scope slice of dbmakedoc's catalog/constraint
semantics — PK/FK/domain rules read from SYSCAT become executable checks
[PUBLIC, module-level; checkout empty — SURVEY §0].

Each rule is one aggregate over one scan (or one semi-join for FKs); the
report is a union of scalar counts, so the whole audit is a handful of
map-side-combined passes — the shape that audits 100 TB without a single
wide shuffle (the FK anti-join broadcasts the PK side when it fits,
otherwise shuffles by key once).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t


def _check(name: str, df: DataFrame) -> DataFrame:
    return df.select(
        F.lit(name).alias("check_name"),
        F.count("*").alias("n_violations"),
    )


@query(
    "etl_data_quality",
    oracle="""
SELECT 'fk_lineitem_orders' AS check_name,
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
           AS n_violations
UNION ALL
SELECT 'fk_orders_customer',
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
UNION ALL
SELECT 'null_totalprice',
       CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL) AS BIGINT)
UNION ALL
SELECT 'domain_orderstatus',
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_orderstatus NOT IN ('F','O','P')) AS BIGINT)
UNION ALL
SELECT 'pk_dup_orderkey',
       CAST((SELECT COUNT(*) FROM
              (SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'range_discount',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
""",
    category="K",
)
def etl_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit → report DataFrame (check_name, n_violations):
    FK orphans (anti-joins), null rate, domain membership, PK uniqueness,
    numeric range. Fixtures are clean, so every count must be 0 — which the
    oracle verifies independently."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")

    checks = [
        _check(
            "fk_lineitem_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
        ),
        _check(
            "fk_orders_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
        _check("null_totalprice", o.filter(F.col("o_totalprice").isNull())),
        _check(
            "domain_orderstatus",
            o.filter(~F.col("o_orderstatus").isin("F", "O", "P")),
        ),
        _check(
            "pk_dup_orderkey",
            o.groupBy("o_orderkey").count().filter(F.col("count") > 1),
        ),
        _check(
            "range_discount",
            li.filter(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ),
        ),
    ]
    return reduce(DataFrame.unionByName, checks)


@query(
    "etl_table_fingerprint",
    oracle=f"""
WITH h AS (
  SELECT o_orderstatus,
         {MD5_BIGINT(
             "CAST(o_orderkey AS VARCHAR) || '|' || "
             "CAST(o_custkey AS VARCHAR) || '|' || "
             "o_orderstatus || '|' || "
             "o_orderpriority || '|' || "
             "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"
         )} AS hv
  FROM orders)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(hv) AS BIGINT) AS xor_fingerprint
FROM h GROUP BY o_orderstatus
""",
    category="K",
)
def etl_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free per-partition table fingerprint — the replication/audit
    primitive: each row renders to a canonical string (stable integer and
    timestamp formats; doubles excluded by design — their text forms
    differ across engines), hashes to a 60-bit md5-prefix integer, and
    the group fingerprint is the XOR of row hashes plus the row count.
    XOR is associative/commutative, so the fingerprint is identical for
    ANY partitioning, insertion order, or engine — comparing (n_rows,
    xor_fingerprint) per group across two replicas detects any
    missing/extra/changed row with probability 1 − 2⁻⁶⁰ per group.

    Scale: one map-side-combined aggregation over one scan; the audit of
    a 100 TB table moves only (group, count, 8 bytes) per partition."""
    o = t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    )
    hv = md5_bigint(canon)
    return (
        o.select("o_orderstatus", hv.alias("hv"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor("hv").cast("long").alias("xor_fingerprint"),
        )
    )


# --- column statistical profile (round 5) ------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders"""
    for c in _PROFILE_COLS
)


@query("catalog_column_profile", oracle=_PROFILE_ORACLE, category="K")
def catalog_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column statistical profile of a table (row count, null count,
    exact distinct count) — the db2look/ANALYZE-style documentation
    report, one row per column. All six columns profile in a SINGLE
    aggregation pass: count(col) and count(distinct col) per column ride
    one grouped plan (Spark expands multi-distinct via a single expand +
    aggregate), then the wide row unpivots to the report shape.

    Scale: one scan + one aggregation regardless of column count; exact
    distincts are the honest default at dim-table scale — switch the
    expression to approx_count_distinct for 100 TB fact tables (the
    approx tier's verdict-oracle pattern covers that path)."""
    o = t(spark, sf_dir, "orders")
    wide = o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            x
            for c in _PROFILE_COLS
            for x in (
                F.count(c).cast("bigint").alias(f"cnt_{c}"),
                F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{c}"),
            )
        ],
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, "
        + ", ".join(
            f"'{c}', n_rows, n_rows - cnt_{c}, nd_{c}"
            for c in _PROFILE_COLS
        )
        + ") AS (column_name, n_rows, n_nulls, n_distinct)"
    )


# --- pseudonymization (round 5) ----------------------------------------

PSEUDO_SALT = "dbsuite-pepper-1"  # deployment-secret stand-in (fixture const)

_PSEUDO_ORACLE = f"""
SELECT sha256('{PSEUDO_SALT}' || CAST(user_id AS VARCHAR)) AS user_pseudo,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
       event_type,
       value
FROM events
"""


@query("etl_pseudonymize", oracle=_PSEUDO_ORACLE, category="K")
def etl_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization pass (GDPR Art. 4(5) shape): direct identifiers
    become salted SHA-256 pseudonyms (stable joins survive; re-
    identification requires the salt) and timestamps generalize to hour
    grain — the privacy transform run before data leaves the trusted
    zone. Row-local codegen; zero shuffle; the salt is a deployment
    secret injected at runtime (a fixture constant here so the key
    stays hash-verifiable)."""
    e = t(spark, sf_dir, "events")
    return e.select(
        F.sha2(
            F.concat(F.lit(PSEUDO_SALT), F.col("user_id").cast("string")),
            256,
        ).alias("user_pseudo"),
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        "event_type",
        "value",
    )


# --- freshness SLA report (round 5) ------------------------------------

FRESHNESS_SLA_HOURS = 24

_FRESHNESS_ORACLE = f"""
WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS corpus_max FROM events),
per AS (
  SELECT event_type,
         MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type)
SELECT p.event_type, p.last_seen, p.n_events,
       CAST(date_diff('second', p.last_seen, mx.corpus_max) AS BIGINT)
         AS lag_seconds,
       date_diff('second', p.last_seen, mx.corpus_max)
         <= {FRESHNESS_SLA_HOURS} * 3600 AS within_sla
FROM per p, mx
"""


@query("etl_freshness_report", oracle=_FRESHNESS_ORACLE, category="K")
def etl_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness SLA report: last event time, lag behind the
    corpus high-water mark in exact integer seconds, and the SLA verdict
    — the ops dashboard that catches a stalled feed before consumers do.
    Two bounded aggregations + a 1-row broadcast; integer timestamp
    arithmetic is bit-identical cross-engine."""
    e = t(spark, sf_dir, "events")
    mx = e.agg(F.max(F.col("ts").cast("timestamp")).alias("corpus_max"))
    per = e.groupBy("event_type").agg(
        F.max(F.col("ts").cast("timestamp")).alias("last_seen"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    lag = (
        F.unix_timestamp("corpus_max") - F.unix_timestamp("last_seen")
    ).cast("bigint")
    return per.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "last_seen",
        "n_events",
        lag.alias("lag_seconds"),
        (lag <= FRESHNESS_SLA_HOURS * 3600).alias("within_sla"),
    )


# --- k-anonymity audit --------------------------------------------------

K_ANON = 5  # minimum admissible quasi-identifier group size

_KANON_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       COUNT(*) >= {K_ANON} AS k_anonymous
FROM customer GROUP BY 1, 2
"""


@query("etl_k_anonymity", oracle=_KANON_ORACLE, category="K")
def etl_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): every equivalence class with its size and
    the k>=5 verdict — the privacy gate run before an export, companion
    to ``etl_pseudonymize`` (which removes direct identifiers; this
    measures re-identification risk from the *indirect* ones). Classes
    failing the bound are the rows a release must suppress or
    generalize.

    Scale: one partial+final count keyed by the quasi-identifier tuple —
    the same O(scan) + |classes|-row shuffle as any groupBy; the audit
    report is dimension-sized. Integer counts → bit-identical verdicts
    everywhere."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") >= K_ANON).alias("k_anonymous"),
        )
    )


L_DIVERSITY = 3  # minimum distinct sensitive values per QI class

_LDIV_ORACLE = f"""
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
       COUNT(DISTINCT c_mktsegment) >= {L_DIVERSITY} AS l_diverse
FROM customer GROUP BY c_nationkey
"""


@query("etl_l_diversity", oracle=_LDIV_ORACLE, category="K")
def etl_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion gate to ``etl_k_anonymity``:
    a k-anonymous class is still unsafe if every member shares the same
    sensitive value (homogeneity attack), so each quasi-identifier class
    (nation) must contain ≥ l distinct sensitive values (market
    segment). One grouped count-distinct — an expand-style partial
    aggregation at scale, dimension-sized output."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
        )
        .select(
            "c_nationkey",
            "group_size",
            "n_sensitive",
            (F.col("n_sensitive") >= L_DIVERSITY).alias("l_diverse"),
        )
    )


_MASK_ORACLE = """
SELECT c_custkey,
       repeat('*', CAST(length(c_name) - 4 AS INT)) || right(c_name, 4)
           AS masked_name,
       CAST(FLOOR(c_acctbal / 1000) * 1000 AS DOUBLE) AS acctbal_bucket
FROM customer
"""


@query("etl_mask_pii_display", oracle=_MASK_ORACLE, category="K")
def etl_mask_pii_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Display-safe PII masking: all but the last 4 identifier
    characters starred out, balances generalized to 1000-unit buckets —
    the third privacy mode alongside ``etl_pseudonymize`` (linkable
    hashes) and ``etl_k_anonymity``/``etl_l_diversity`` (release
    audits): what a support UI or partner export is allowed to show.
    Pure row-local string/floor arithmetic — codegen, zero shuffle,
    bit-identical."""
    n = F.length("c_name")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.repeat(F.lit("*"), (n - 4).cast("int")),
            F.expr("right(c_name, 4)"),
        ).alias("masked_name"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("double")
        .alias("acctbal_bucket"),
    )


T_CLOSENESS = 0.2  # max admissible total-variation distance per QI class

_TCLOSE_ORACLE = f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM customer),
gdist AS (SELECT c_mktsegment AS s, CAST(COUNT(*) AS BIGINT) AS cs
         FROM customer GROUP BY 1),
cls AS (SELECT c_nationkey AS g, CAST(COUNT(*) AS BIGINT) AS ng
        FROM customer GROUP BY 1),
cell AS (SELECT c_nationkey AS g, c_mktsegment AS s,
                CAST(COUNT(*) AS BIGINT) AS cgs
         FROM customer GROUP BY 1, 2),
grid AS (
  SELECT cls.g, cls.ng, gdist.s, gdist.cs, COALESCE(cell.cgs, 0) AS cgs,
         n.n_total
  FROM cls CROSS JOIN gdist CROSS JOIN n
  LEFT JOIN cell ON cell.g = cls.g AND cell.s = gdist.s),
d AS (
  SELECT g, ng,
         CAST(round(abs(CAST(cgs AS DOUBLE) / ng
                        - CAST(cs AS DOUBLE) / n_total), 6)
              AS DECIMAL(18,6)) AS ad
  FROM grid)
SELECT g AS c_nationkey,
       CAST(MIN(ng) AS BIGINT) AS group_size,
       CAST(SUM(ad) AS DOUBLE) / 2 AS tvd,
       CAST(SUM(ad) AS DOUBLE) / 2 <= {T_CLOSENESS} AS t_close
FROM d GROUP BY g
"""


@query("etl_t_closeness", oracle=_TCLOSE_ORACLE, category="K")
def etl_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third gate of the release-privacy trio
    (``etl_k_anonymity`` bounds class size, ``etl_l_diversity`` bounds
    sensitive-value variety, this bounds sensitive-value SKEW): each
    quasi-identifier class's market-segment distribution must sit
    within total-variation distance {T_CLOSENESS} of the global
    distribution, else the class leaks its members' likely segment
    even when k-anonymous and l-diverse. TVD over a categorical
    sensitive attribute is half the sum of |q_class − p_global| across
    the full segment domain (absent segments contribute q=0 via the
    domain cross join).

    Exactness: both proportions are single double divisions of exact
    integers; each |q−p| rounds to 6 dp into DECIMAL before the
    order-free SUM, then one halving division — no float-order hazard.

    Scale: three partial+final counts (class, segment, cell) plus a
    |classes|×|domain| grid join of dimension-sized frames — the audit
    never reshuffles the fact table beyond its one grouping pass."""
    c = t(spark, sf_dir, "customer")
    n = c.agg(F.count("*").cast("bigint").alias("n_total"))
    glob = c.groupBy(F.col("c_mktsegment").alias("s")).agg(
        F.count("*").cast("bigint").alias("cs")
    )
    cls = c.groupBy(F.col("c_nationkey").alias("g")).agg(
        F.count("*").cast("bigint").alias("ng")
    )
    cell = c.groupBy(
        F.col("c_nationkey").alias("g2"), F.col("c_mktsegment").alias("s2")
    ).agg(F.count("*").cast("bigint").alias("cgs"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(n))
        .join(
            F.broadcast(cell),
            (F.col("g") == F.col("g2")) & (F.col("s") == F.col("s2")),
            "left",
        )
        .select(
            "g",
            "ng",
            "cs",
            "n_total",
            F.coalesce("cgs", F.lit(0)).alias("cgs"),
        )
    )
    ad = F.round(
        F.abs(
            F.col("cgs").cast("double") / F.col("ng")
            - F.col("cs").cast("double") / F.col("n_total")
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        grid.select("g", "ng", ad.alias("ad"))
        .groupBy("g")
        .agg(
            F.min("ng").cast("bigint").alias("group_size"),
            (F.sum("ad").cast("double") / 2).alias("tvd"),
        )
        .select(
            F.col("g").alias("c_nationkey"),
            "group_size",
            "tvd",
            (F.col("tvd") <= T_CLOSENESS).alias("t_close"),
        )
    )


# --- differential privacy: deterministic Laplace mechanism ---------------

DP_EPSILON = 0.5  # privacy budget; count sensitivity 1 -> scale b = 2.0
DP_SCALE = 1.0 / DP_EPSILON

_DP_ORACLE = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS true_count
  FROM customer GROUP BY 1, 2),
u AS (
  SELECT *,
         (CAST({MD5_BIGINT(
                  "CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment"
              )} % 1000000 AS DOUBLE) + 0.5) / 1000000.0 - 0.5 AS c
  FROM g)
SELECT c_nationkey, c_mktsegment, true_count,
       -{DP_SCALE} * sign(c) * round(ln(1.0 - 2.0 * abs(c)), 6) AS noise,
       true_count + (-{DP_SCALE} * sign(c)
                     * round(ln(1.0 - 2.0 * abs(c)), 6)) AS noisy_count,
       CAST({DP_EPSILON} AS DOUBLE) AS epsilon
FROM u
"""


@query("etl_dp_noisy_counts", oracle=_DP_ORACLE, category="K")
def etl_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private group counts via the LAPLACE MECHANISM —
    the release-side companion to the k-anonymity / l-diversity /
    t-closeness audits: each quasi-identifier class count is perturbed
    with Laplace(1/ε) noise (count queries have sensitivity 1), the
    standard ε-DP release for histogram statistics. The draw is
    DETERMINISTIC — inverse-CDF over an md5-uniform of the group key
    (noise = −b·sign(U−½)·ln(1−2|U−½|)) — so the release is
    reproducible on any engine and any partitioning, re-runs don't
    consume extra privacy budget by re-randomizing, and the hash gate
    can verify it bit-for-bit. True counts ride along as the AUDIT
    column (this key demonstrates the mechanism; an actual release
    projects them away).

    Exactness: the uniform is an exact integer hash scaled by one
    division; ln is rounded to 6 dp before the two exact products
    (sign ±1, b a power of two) — the ``agg_geometric_mean_log``
    rounded-transcendental discipline.

    Scale: one partial+final count by the class tuple, then a pure
    row-local noise expression over the |classes|-row result — the
    mechanism adds zero shuffles to the histogram it protects."""
    g = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("true_count"))
    )
    u = (
        (
            md5_bigint(
                F.concat(
                    F.col("c_nationkey").cast("string"),
                    F.lit(":"),
                    F.col("c_mktsegment"),
                )
            )
            % 1000000
        ).cast("double")
        + 0.5
    ) / 1000000.0 - 0.5
    noise = (
        F.lit(-DP_SCALE)
        * F.signum(u)
        * F.round(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u)), 6)
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).alias("noisy_count"),
        F.lit(DP_EPSILON).cast("double").alias("epsilon"),
    )
