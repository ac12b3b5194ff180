"""Fixture-table access: one loader, one view-registrar.

All queries funnel through ``t()`` so schema/timezone discipline is applied
in exactly one place. Reads are plain columnar Parquet scans — Catalyst
pushes filters and prunes columns into the scan (verify with
``.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Canonical post-normalization fixture schema (Spark simpleString types),
# exactly what ``t()`` hands every operator. Single source of truth: the
# schema-drift canary (tests/test_fixture_schemas.py) asserts it against
# the live fixtures, and etl/sources.py derives the neutral-typed
# ``_DOC_SCHEMA`` for the catalog_document oracle from it — update HERE
# (only) when the driver regenerates fixtures with a new layout.
FIXTURE_SCHEMA: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),  # t() normalizes nanos/micros/NTZ here
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; pins session TZ to UTC first (SURVEY §7.4.3).

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) (round-1
    fixtures; Spark 4 rejects it unless read as long via the legacy flag) or
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-2 fixtures; Spark reads
    TIMESTAMP_NTZ). Normalize both to microsecond TimestampType so every
    downstream operator (windows, watermarks, oracles) sees one type, and
    the wall-clock matches DuckDB's ``CAST(ts AS TIMESTAMP)`` (SURVEY §7.4.3).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanos read as long under the legacy flag: truncate to micros.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            # TIMESTAMP_NTZ micros: identity on wall-clock under UTC session.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


# Values are DataFrames (memo_cache / memo_frame) or plain Python
# payloads (e.g. the learned BPE rule list) — hence ``object``, not
# ``DataFrame`` (ADVICE r08).
_SESSION_CACHE: dict[tuple[int, str], object] = {}

# Session identity -> live session, so eviction can ask each owner
# whether it has stopped.  Entries pin their session (the cached
# DataFrames hold it transitively anyway), which also guarantees the
# ``id()`` key can never be reused by a *different* live session.
_MEMO_SESSIONS: dict[int, SparkSession] = {}


def _evict_stopped_sessions() -> None:
    """Drop every cache entry owned by a stopped session (ADVICE r08:
    the cache previously grew without bound across session restarts and
    pinned stopped sessions forever).  ``SparkContext.stop()`` sets
    ``_jsc = None``, which is the documented stopped-state probe."""
    dead = [
        sid
        for sid, sess in _MEMO_SESSIONS.items()
        if getattr(sess.sparkContext, "_jsc", None) is None
    ]
    for sid in dead:
        del _MEMO_SESSIONS[sid]
        for k in [k for k in _SESSION_CACHE if k[0] == sid]:
            del _SESSION_CACHE[k]


def _memo(spark: SparkSession, key: str):
    """Shared lookup: evict dead sessions, register the live one, and
    return (cache_key, hit-or-None)."""
    _evict_stopped_sessions()
    sid = id(spark)
    _MEMO_SESSIONS[sid] = spark
    k = (sid, key)
    return k, _SESSION_CACHE.get(k)


def clear_session_cache(spark: SparkSession | None = None) -> None:
    """Forget memoized frames — all sessions, or one session's.

    Used by ``bench.py`` between per-query timings so a key that shares
    a memoized substrate with a sibling key (e.g. ``dedup_near_minhash``
    after ``dedup_connected_components``) is timed on its own cold plan
    cost, not on a warm cache hit (VERDICT r08 ask #3).  Cached
    DataFrames are unpersisted so executor storage is actually released,
    not just unreferenced; checkpointed ones (the MinHash substrate) hold
    no cache entry, and their blocks go when the frame is collected.

    Round-13 measurement-bug fix (guide §1): unpersisting the MEMOIZED
    frame is not enough — substrates also ``.cache()`` INTERIOR frames
    (the bulk-load parse split), which stay in Spark's CacheManager after
    the memo entry dies; a rebuilt equal plan then silently rehydrates
    the old cached data (the "Asked to cache already cached data"
    warnings in earlier bench tails), so a bench "cold" run after the
    first was warm on those stages.  ``catalog.clearCache()`` on every
    targeted live session makes cold actually cold.
    """
    sids = None if spark is None else {id(spark)}
    targets = [
        s
        for sid, s in _MEMO_SESSIONS.items()
        if sids is None or sid in sids
    ]
    if spark is not None and id(spark) not in _MEMO_SESSIONS:
        targets.append(spark)
    for k in [k for k in _SESSION_CACHE if sids is None or k[0] in sids]:
        v = _SESSION_CACHE.pop(k)
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:
                pass  # session already stopped — storage is gone anyway
    for sid in [s for s in _MEMO_SESSIONS if sids is None or s in sids]:
        del _MEMO_SESSIONS[sid]
    for sess in targets:
        try:
            sess.catalog.clearCache()
        except Exception:
            pass  # stopped session (storage already gone) or test fake


def memo_cache(df: DataFrame, key: str) -> DataFrame:
    """Per-session memoized ``df.cache()``.

    Repeated invocations of a query in one session used to re-cache a
    fresh equal-plan DataFrame each time: storage accumulated until LRU
    eviction and the logs spammed "Asked to cache already cached data"
    (VERDICT r07 hygiene item). Keyed by (session identity, caller key),
    later calls return the SAME cached DataFrame object, so the cache is
    built once per session and reused. Entries for stopped sessions are
    evicted on the next memo access; live entries pin their session via
    the held DataFrame, so ``id()`` collisions across live sessions are
    impossible. Callers must fold every input that changes the plan
    (sf_dir above all, plus every module-level tunable the plan reads)
    into ``key``.
    """
    k, hit = _memo(df.sparkSession, key)
    if hit is not None:
        return hit
    out = df.cache()
    _SESSION_CACHE[k] = out
    return out


def memo_frame(spark: SparkSession, key: str, build) -> DataFrame:
    """Function-level variant of :func:`memo_cache`: memoize the WHOLE
    built frame (including any internal cache or checkpoint chain) per
    session, so shared substrates consumed by several keys — the MinHash
    verified pair set above all — construct and materialise their
    interior stages once per session instead of once per consumer."""
    k, hit = _memo(spark, key)
    if hit is None:
        hit = _SESSION_CACHE[k] = build()
    return hit


def fan_out(df: DataFrame, key: str | None = None) -> DataFrame:
    """Raise a narrow scan's parallelism to the session default before
    CPU-heavy per-row work (decimal aggregation, JSON parsing, vector
    math).

    Round-14: ``key`` selects HASH repartitioning on that column instead
    of round-robin. Two wins when a high-cardinality, skew-free key
    exists (document/row ids): (1) keyless ``repartition(n)`` first pays
    a local sort of its input so retried tasks reproduce the same
    row-to-partition assignment (``spark.sql.execution.sortBeforeRepartition``,
    guide §2.5) — on heavy payload rows (document text) that sort is real
    CPU; hash repartitioning needs no such determinism crutch. (2) the
    exchange ESTABLISHES hashpartitioning(key), so every downstream
    groupBy/window on that key rides it with zero further exchanges
    (guide §2.4). Use only where the key provably spreads (ids), never a
    low-cardinality grouping key — that would re-create the skew §2.5
    warns about.

    A Parquet scan's task count is bounded by its split count — row
    groups, not bytes — so a few large single-row-group files (this
    fixture; in production: gzip'd text, badly-compacted uploads) serve
    ONE task regardless of cluster size, and everything fused into the
    scan stage runs on one core. When the observed scan parallelism is
    far below the session's (4× margin), a round-robin repartition buys
    full-width execution for one narrow shuffle of the scanned rows —
    the same call a cluster job makes after reading unsplittable inputs.
    When the source already fans out (healthy warehouse layouts), this
    is the identity: no exchange is added at scale.

    Apply AFTER pushed filters/pruned projections so the exchange moves
    only surviving rows; results are unaffected — every consumer here is
    order-independent by the package's exactness discipline.

    The parallelism probe is STATIC (ADVICE r05): ``df.inputFiles()``
    plus per-file sizes against ``maxPartitionBytes`` estimates the
    scan's split count without ``df.rdd`` — the RDD conversion forced a
    full physical plan per call, read a pre-AQE partition count that may
    not match execution, and breaks under Spark Connect. The estimate
    OVERCOUNTS actual scan tasks (a huge single-row-group file planned
    as N byte-splits still serves one non-empty task; many tiny files
    can be packed into fewer tasks), so what this guard reliably catches
    is FEW-SMALL-FILE narrowness; a single fat single-row-group file
    estimates many splits and therefore skips the repartition — that
    case remains the documented "known local ceiling" (BASELINE.md),
    exactly as the old ``df.rdd`` probe behaved (ADVICE r06). Healthy
    many-file layouts stay identity — the conservative direction for a
    helper whose only cost is one narrow shuffle."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df  # non-file source (range, in-memory): already wide
    if not files:
        return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    m = re.match(r"(\d+)\s*([kmg]?)b?$", raw.strip().lower())
    mpb = (
        int(m.group(1)) * {"": 1, "k": 2**10, "m": 2**20, "g": 2**30}[m.group(2)]
        if m
        else 128 * 2**20
    )
    est_splits = 0
    for uri in files:
        # Hadoop renders local paths as both file:///p and file:/p —
        # scheme-aware parse handles either (ADVICE r06); the old
        # double-slash-only strip sent 'file:/p' to getsize → OSError
        # → size 0 → over-eager repartition. urlparse does not
        # percent-decode, so a path with encoded characters (space →
        # %20) needs unquote before getsize (ADVICE r07).
        if uri.startswith("file:"):
            path = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        else:
            path = uri
        try:
            size = os.path.getsize(path)
        except OSError:
            size = 0  # remote FS: count the file as one split
        est_splits += max(1, -(-size // mpb))
    if est_splits * 4 <= target:
        if key is not None:
            return df.repartition(target, df[key])
        return df.repartition(target)
    return df
