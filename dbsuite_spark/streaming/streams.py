"""Category I — Structured Streaming over ``events`` (SURVEY §2I).

The reference has no streaming; this category is driver-mandated scope
(SURVEY §0: events fixture + pipeline category). Design rule (SURVEY §2I):
every streaming query's transformation is written once and applied to a
streaming source; where the final result is deterministic regardless of
micro-batch boundaries (complete-mode aggregations, stateless passes,
single-batch stateful runs) the key carries a full DuckDB oracle via its
batch-equivalent SQL. Even append-mode watermarking is fully
oracle-checked: under ``availableNow`` the final no-data micro-batch
advances the watermark to max(event time) − delay, so the emitted set has
the closed form ``window_end <= max(ts) − delay`` (see
``stream_watermark_append``).

Mechanics: each key lands the events table (µs timestamps, via ``t()``) as
one or more Parquet files in the scratch area, reads them back with
``readStream`` (declared schema, ``maxFilesPerTrigger`` to force the batch
cadence), runs with ``trigger(availableNow=True)``, and returns the sink
contents as a batch DataFrame.

Scale notes: these plans run unchanged against a real unbounded source
(Kafka/file landing zone) on a cluster — state lives in the state store
keyed by (window/user), watermarks bound state size, and
``availableNow`` becomes a continuous trigger. Nothing here collects to
the driver.
"""

from __future__ import annotations

import contextlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.etl import tablelog
from dbsuite_spark.etl.io import artifact_path
from dbsuite_spark.etl.loaders import DV_GROUPS
from dbsuite_spark.exact import BIGCOUNT, DSUM
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

GAP = "10 minutes"


def _land_events(
    spark: SparkSession, sf_dir: str, name: str, n_files: int, df: DataFrame | None = None,
    ranged: bool = True,
) -> tuple[str, DataFrame]:
    """Write events (µs timestamps) as ``n_files`` time-ranged Parquet
    files — the streaming landing zone. Returns (path, batch_df).

    ``ranged=False`` lands round-robin instead: ``repartitionByRange``
    pays a sampling pass over the source to pick boundaries, which only
    matters when the consumer is multi-batch AND order-sensitive
    (watermark/dedup/stateful keys). A complete-mode single-trigger
    consumer (``stream_session_window``) gets the same final result from
    any file layout, so it skips the sampling scan (guide §1.2 — don't
    compute what the result never observes)."""
    src = df if df is not None else t(spark, sf_dir, "events")
    path = artifact_path(sf_dir, f"stream_src_{name}")
    if n_files <= 1:
        part = src.coalesce(1)
    elif ranged:
        part = src.repartitionByRange(n_files, "ts")
    else:
        part = src.repartition(n_files)
    part.write.mode("overwrite").parquet(path)
    # The file source orders arrivals by modification time; freshly-written
    # parts share an mtime, which makes multi-batch arrival order (and
    # therefore watermark-drop behavior) nondeterministic. Stamp ascending
    # mtimes in part order — repartitionByRange puts the earliest ts range
    # in part-00000 — so the stream arrives in event-time order.
    import glob
    import os
    import time

    base = time.time() - 3600
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    ):
        os.utime(f, (base + i, base + i))
    return path, src


def _read_stream(
    spark: SparkSession, path: str, schema, files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


@contextlib.contextmanager
def _stream_width(spark: SparkSession, width: int = 8):
    """Pin shuffle width for the duration of a streaming run.

    Every shuffle partition of a stateful query commits a state store per
    micro-batch; at the session default (32 here, 200 vanilla) that is
    pure commit-file overhead for a test-scale stream. The width is fixed
    into the query's checkpoint at start, so pin-and-restore around
    ``start()`` is safe. On a cluster you'd size this to executor count."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_to_memory(
    spark: SparkSession, sdf: DataFrame, name: str, mode: str
) -> DataFrame:
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    with _stream_width(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "stream_tumbling_count",
    oracle=f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
           AS window_end,
       event_type,
       {BIGCOUNT('*')} AS n
FROM events
GROUP BY 1, 2, 3
""",
    category="I",
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour event counts by type over a file stream; complete output
    mode makes the final result independent of micro-batch boundaries, so
    the batch-twin SQL is a full oracle."""
    path, src = _land_events(spark, sf_dir, "tumbling", n_files=3)
    sdf = (
        _read_stream(spark, path, src.schema)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    return _run_to_memory(spark, sdf, "mem_tumbling", "complete")


@query(
    "stream_sliding_agg",
    oracle=f"""
WITH expanded AS (
  SELECT CAST(to_timestamp((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900)
                            AS BIGINT) - i) * 900) AS TIMESTAMP) AS window_start,
         event_type, value
  FROM events, (SELECT unnest(generate_series(0, 3)) AS i)
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       {BIGCOUNT('*')} AS n,
       {DSUM('value')} AS total_value
FROM expanded
GROUP BY 1, 2, 3
""",
    category="I",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in 4 windows);
    complete mode → deterministic final result → full SQL oracle (the twin
    expands the 4 epoch-aligned window starts per event)."""
    path, src = _land_events(spark, sf_dir, "sliding", n_files=3)
    sdf = (
        _read_stream(spark, path, src.schema)
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_to_memory(spark, sdf, "mem_sliding", "complete")


@query(
    "stream_session_window",
    oracle=f"""
WITH marked AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - lag(CAST(ts AS TIMESTAMP))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   < INTERVAL {GAP}
              THEN 0 ELSE 1 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {GAP} AS session_end,
       {BIGCOUNT('*')} AS n_events
FROM sess
GROUP BY user_id, sid
""",
    category="I",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 10-minute inactivity gap
    (``session_window``); complete mode → deterministic final sessions →
    full SQL oracle via the gaps-and-islands twin (new session iff the gap
    is ≥ 10 min — Spark merges only strictly-overlapping windows)."""
    path, src = _land_events(
        spark, sf_dir, "session", n_files=3, ranged=False,
        # Round-13 (guide §2.3/§6): land only the two columns the
        # session aggregation reads — the full landing wrote the heavy
        # JSON props column into parquet that no consumer of THIS
        # landing ever scans (the stream side already pruned its read
        # schema; the WRITE was the unpruned half). Result-invariant:
        # sessions depend on (user_id, ts) alone (measured interleaved
        # at sf0.1: won 4 of 5 rounds, ~0.3 s).
        df=t(spark, sf_dir, "events").select("user_id", "ts"),
    )
    sdf = (
        # Complete mode → result is cadence-independent; ingest all files
        # in one trigger to skip two state-store checkpoint rounds (the
        # multi-batch cadence is exercised by the watermark/foreachBatch
        # keys, where it is semantically load-bearing). Round-13: the
        # landing is round-robin (ranged=False) — single-trigger complete
        # mode never observes file boundaries, so the range-partition
        # sampling pass was pure overhead.
        _read_stream(spark, path, src.schema, files_per_trigger=3)
        .groupBy(F.session_window("ts", GAP), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(spark, sdf, "mem_session", "complete")


@query(
    "stream_watermark_append",
    oracle=f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
           AS window_end,
       event_type,
       {BIGCOUNT('*')} AS n
FROM events GROUP BY 1, 2, 3
HAVING window_end <= (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)
""",
    category="I",
)
def stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation in APPEND mode: a window is emitted
    only once the 30-minute watermark passes its end — the genuinely
    streaming-only semantics. The emitted set is nonetheless deterministic
    end-of-stream: availableNow runs a final no-data micro-batch that
    advances the watermark to max(event time) − delay, so exactly the
    windows with ``end <= max(ts) − 30min`` are out when the query
    terminates, independent of micro-batch boundaries (verified
    empirically: 866/866 windows match the rule at sf0.001) — windows
    inside the final 30 minutes stay withheld in state. That closed-form
    rule IS the oracle; hour-aligned window ends keep the ms-truncated
    watermark comparison exact."""
    path, src = _land_events(spark, sf_dir, "wm_append", n_files=6)
    sdf = (
        _read_stream(spark, path, src.schema)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    return _run_to_memory(spark, sdf, "mem_wm_append", "append")


@query(
    "stream_dedup_watermark",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    category="I",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by event_id within a watermark: the source is the
    events table UNION ALL itself (every row duplicated), landed as one
    file so duplicates share a batch and the state store suppresses every
    second copy → output equals the original table exactly (full oracle).
    ``dropDuplicatesWithinWatermark`` emits first-seen rows immediately;
    the watermark only bounds state retention."""
    doubled = t(spark, sf_dir, "events")
    doubled = doubled.unionByName(doubled)
    path, src = _land_events(
        spark, sf_dir, "dedup", n_files=1, df=doubled
    )
    sdf = (
        _read_stream(spark, path, src.schema, files_per_trigger=1)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _run_to_memory(spark, sdf, "mem_dedup", "append")
    return out.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "stream_stateful_custom",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events),
p AS (SELECT user_id, rn,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM seq WHERE event_type = 'purchase'),
streaks AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak
            FROM p GROUP BY user_id, grp),
users AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       COALESCE((SELECT CAST(SUM(streak) AS BIGINT) FROM streaks s
                 WHERE s.user_id = u.user_id), 0) AS n_purchases,
       COALESCE((SELECT MAX(streak) FROM streaks s
                 WHERE s.user_id = u.user_id), 0) AS max_streak
FROM users u
""",
    category="I",
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-user stateful operator (``applyInPandasWithState``):
    total purchases + longest consecutive-purchase streak per user, state
    carried across micro-batches. Landed as one file → one batch → the
    emitted update per user is the final value, so the gaps-and-islands
    batch twin is a full oracle. On a cluster the same code runs over an
    unbounded source with state in the state store."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    path, src = _land_events(spark, sf_dir, "stateful", n_files=1)

    def track(key, pdf_iter, state: GroupState):
        if state.exists:
            n, cur, best = state.get
        else:
            n, cur, best = 0, 0, 0
        rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        for et in rows["event_type"]:
            if et == "purchase":
                n += 1
                cur += 1
                best = max(best, cur)
            else:
                cur = 0
        state.update((n, cur, best))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_purchases": [n],
                "max_streak": [best],
            }
        )

    sdf = (
        _read_stream(spark, path, src.schema)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id bigint, n_purchases bigint, max_streak bigint",
            stateStructType="n bigint, cur bigint, best bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(spark, sdf, "mem_stateful", "update")


@query(
    "stream_foreachbatch_sink",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE event_type = 'purchase'
""",
    category="I",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch sink via ``foreachBatch``: each batch of the purchase
    stream is appended to a Parquet table (the upsert/merge hook point —
    ``etl.loaders.merge_upsert`` slots in here for keyed sinks). Output
    and checkpoint are reset per run for idempotence; the read-back equals
    the batch filter (full oracle) because appends are partition-additive."""
    path, src = _land_events(spark, sf_dir, "febatch", n_files=2)
    out_dir = artifact_path(sf_dir, "febatch_out_parquet")
    ckpt = artifact_path(sf_dir, "febatch_ckpt")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "event_type", "value")
            .write.mode("append")
            .parquet(out_dir)
        )

    with _stream_width(spark):
        q = (
            _read_stream(spark, path, src.schema)
            .writeStream.foreachBatch(upsert_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


@query(
    "stream_file_source",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    category="I",
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-Parquet as an unbounded source (the landing-zone
    pattern): 4 time-ranged files arrive one per trigger under
    ``availableNow``; a stateless projection passes every row through
    exactly once regardless of batching → full oracle."""
    path, src = _land_events(spark, sf_dir, "filesrc", n_files=4)
    sdf = _read_stream(spark, path, src.schema).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_to_memory(spark, sdf, "mem_filesrc", "append")


@query(
    "stream_join_static",
    oracle=f"""
SELECT c.c_mktsegment,
       e.event_type,
       {BIGCOUNT('*')} AS n,
       {DSUM('e.value')} AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY 1, 2
""",
    category="I",
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    customer dimension (user_id+1 = c_custkey), then aggregates by market
    segment in complete mode → batching-independent → full SQL oracle.

    Scale design: the static side is broadcast per micro-batch (it is a
    bounded dim); no stream-side shuffle is added by the join, and the
    post-join aggregate keeps state only per (segment, type) — tiny. This
    is the standard pattern for enriching a 100 TB/day event firehose with
    dimension attributes without stream-stream state."""
    path, src = _land_events(spark, sf_dir, "joinstatic", n_files=3)
    dim = F.broadcast(
        t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    sdf = (
        _read_stream(spark, path, src.schema)
        .join(dim, F.col("c_custkey") == F.col("user_id") + 1)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return _run_to_memory(spark, sdf, "mem_joinstatic", "complete")


@query(
    "stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP)
     BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
         AND CAST(p.ts AS TIMESTAMP)
""",
    category="I",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user clicks in
    the preceding 30 minutes — the attribution-join shape. Both sides carry
    watermarks + the time-range predicate, which is what lets the state
    store evict old rows at scale (state per side ≈ one watermark-window of
    events, not the whole stream). The watermark delay (35 days) exceeds
    the fixture's 30-day span, so nothing is evicted mid-run and the
    append-mode result provably equals the batch join → full SQL oracle.
    On a real unbounded feed the delay would be minutes and state stays
    bounded; semantics are unchanged.

    State-store width: each shuffle partition commits two state stores per
    micro-batch — pinned narrow by ``_stream_width`` inside the runner; on
    a cluster you'd size it to executor count."""
    return _stream_stream_join_run(spark, sf_dir)


def _stream_stream_join_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, src = _land_events(spark, sf_dir, "ssjoin", n_files=2)
    purchases = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "35 days")
    )
    clicks = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "35 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts BETWEEN "
            "purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
    )
    return _run_to_memory(spark, joined, "mem_ssjoin", "append")


@query(
    "stream_checkpoint_resume",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    category="I",
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restart from a checkpoint — the operational property
    the other streaming keys don't exercise: phase 1 streams the first 3
    landed files into a Parquet sink, the query STOPS, 3 more files land,
    and phase 2 restarts from the SAME checkpoint — the file-source log
    ensures only the new files are processed and the sink's
    ``_spark_metadata`` commits each batch atomically. The read-back
    equals the batch projection of ALL events exactly once (full hash
    oracle — any reprocessing would double rows and break the hash).
    On a cluster this is the crash/redeploy recovery path."""
    import glob
    import os

    path_all, src = _land_events(spark, sf_dir, "ckptres_all", n_files=6)
    live = artifact_path(sf_dir, "ckptres_live")
    out_dir = artifact_path(sf_dir, "ckptres_out")
    ckpt = artifact_path(sf_dir, "ckptres_ckpt")
    for d in (live, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(live)
    parts = sorted(glob.glob(os.path.join(path_all, "part-*.parquet")))

    def run_phase() -> None:
        with _stream_width(spark):
            q = (
                _read_stream(spark, live, src.schema)
                .select("event_id", "user_id", "event_type", "value")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for i, f in enumerate(parts[:3]):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()
    for i, f in enumerate(parts[3:], start=3):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()
    return spark.read.parquet(out_dir)


@query(
    "stream_stream_outer_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id,
         CAST(ts AS TIMESTAMP) AS purchase_ts
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 30 MINUTE
                      AND p.purchase_ts),
wm AS (
  -- the query-wide watermark is the MIN over both sides' watermark
  -- nodes, each seeing only its own filtered events
  SELECT LEAST((SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
                WHERE event_type = 'purchase'),
               (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
                WHERE event_type = 'click')) - INTERVAL 20 DAY AS w)
SELECT purchase_id, click_id, user_id, purchase_ts FROM m
UNION ALL
SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id,
       p.user_id, p.purchase_ts
FROM p, wm
WHERE p.purchase_ts < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
""",
    category="I",
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the hard case the inner join
    (``stream_stream_join``) sidesteps: a purchase with no same-user
    click in its preceding 30 minutes must eventually emit with a NULL
    click, but only once the engine can PROVE no match is coming — i.e.
    when the watermark passes the purchase's match window. The 20-day
    delay is deliberately SHORTER than the fixture span (unlike the inner
    key's 35 days), so the final no-data batch advances the watermark to
    ``max(ts) − 20 days`` and every unmatched purchase older than that
    emits its NULL row; younger unmatched purchases stay in state,
    exactly as they would on an unbounded feed. The closed form —
    batch inner join ∪ unmatched purchases with ``purchase_ts < wm``
    where ``wm = least(max purchase ts, max click ts) − delay`` (the
    query-wide watermark is the MIN across both sides' watermark nodes,
    each of which sits above its event-type filter and therefore tracks
    only its own side's max event time) — was verified empirically at
    sf0.001 and sf0.01 and makes this a full hash oracle.
    Boundary note: state expiry uses strict ``<`` at the watermark; an
    event timestamped exactly at max(ts) − 20 days could flip it, with
    ~µs probability under fixture regeneration.

    Scale: two watermarked sides + the time-range predicate bound the
    state store to one window of events per side; eviction is what makes
    a 100 TB/day outer attribution join runnable at all. The delay must
    exceed arrival skew (here: one time-ranged file) so no valid match is
    dropped — same discipline as sizing allowed-lateness in production."""
    path, src = _land_events(spark, sf_dir, "ssoj", n_files=2)
    purchases = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "20 days")
    )
    clicks = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "20 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts BETWEEN "
            "purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
    )
    return _run_to_memory(spark, joined, "mem_ssoj", "append")


@query(
    "stream_stream_right_outer_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id,
         CAST(ts AS TIMESTAMP) AS purchase_ts
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.purchase_id, c.click_id, c.user_id, c.click_ts
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 30 MINUTE
                      AND p.purchase_ts),
wm AS (
  SELECT LEAST((SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
                WHERE event_type = 'purchase'),
               (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
                WHERE event_type = 'click')) - INTERVAL 20 DAY AS w)
SELECT purchase_id, click_id, user_id, click_ts FROM m
UNION ALL
SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id,
       c.user_id, c.click_ts
FROM c, wm
WHERE c.click_ts + INTERVAL 30 MINUTE < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
""",
    category="I",
)
def stream_stream_right_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream RIGHT OUTER join — completes the join matrix
    (inner / left-outer / full-outer / left-semi / right-outer): a
    click with no same-user purchase in its FOLLOWING 30 minutes must
    eventually emit with a NULL purchase. The asymmetry vs the
    left-outer key is the eviction bound: a click at t can still match
    purchases with purchase_ts ∈ [t, t+30min], so its NULL row emits
    only once the watermark passes ``click_ts + 30min`` (the
    left-outer's purchases emit at ``purchase_ts < wm`` because their
    match window looks BACKWARD). Closed form — batch inner join ∪
    unmatched clicks with ``click_ts + 30min < wm``, wm = least(both
    sides' max ts) − 20 days — verified empirically at sf0.001 and
    sf0.01, making this a full hash oracle. Same boundary note as the
    left-outer key: strict ``<`` at the watermark.

    Scale: identical state-bounding story as the left-outer key — the
    time-range predicate gives each side a finite state TTL; the right
    side's TTL is its event time plus the window length."""
    path, src = _land_events(spark, sf_dir, "ssroj", n_files=2)
    purchases = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "20 days")
    )
    clicks = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "20 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts BETWEEN "
            "purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
        "rightOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
    )
    return _run_to_memory(spark, joined, "mem_ssroj", "append")


@query(
    "stream_windowed_distinct_users",
    oracle=f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
           AS window_end,
       event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2, 3
""",
    category="I",
)
def stream_windowed_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming per-window distinct-user counts — the composition
    Structured Streaming can't do in one stateful operator (windowed
    COUNT(DISTINCT) is unsupported): a watermarked
    ``dropDuplicates`` on (window-hour, type, user) collapses each
    user's repeats first, then an ordinary windowed count aggregates the
    survivors — two stateful operators chained in one query, each seeing
    bounded state (dedup holds one row per active (hour, type, user)
    inside the watermark; the count holds one row per window pane).

    Complete output mode pins the final answer regardless of micro-batch
    boundaries, so the batch COUNT(DISTINCT) twin is a full oracle. At
    cluster scale both operators partition by their state key and the
    watermark evicts state hourly — the standard production shape for
    streaming DAU."""
    path, src = _land_events(spark, sf_dir, "wdistinct", n_files=3)
    deduped = (
        _read_stream(spark, path, src.schema)
        .withColumn("hour_ts", F.date_trunc("hour", "ts"))
        .withWatermark("hour_ts", "2 hours")
        .dropDuplicates(["hour_ts", "event_type", "user_id"])
    )
    sdf = (
        deduped.groupBy(F.window("hour_ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_users",
        )
    )
    return _run_to_memory(spark, sdf, "mem_wdistinct", "complete")


@query(
    "stream_stream_full_outer_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id,
         CAST(ts AS TIMESTAMP) AS purchase_ts
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts, c.click_ts
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 30 MINUTE
                      AND p.purchase_ts),
wm AS (
  SELECT LEAST((SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
                WHERE event_type = 'purchase'),
               (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
                WHERE event_type = 'click')) - INTERVAL 20 DAY AS w)
SELECT purchase_id, click_id, user_id, purchase_ts, click_ts FROM m
UNION ALL
SELECT p.purchase_id, CAST(NULL AS BIGINT), p.user_id, p.purchase_ts,
       CAST(NULL AS TIMESTAMP)
FROM p, wm
WHERE p.purchase_ts < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
UNION ALL
SELECT CAST(NULL AS BIGINT), c.click_id, c.user_id,
       CAST(NULL AS TIMESTAMP), c.click_ts
FROM c, wm
WHERE c.click_ts + INTERVAL 30 MINUTE < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
""",
    category="I",
)
def stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER join — both directions of the left-outer
    key's proof obligation: an unmatched purchase NULL-emits once the
    watermark passes its timestamp (no earlier click can still arrive),
    and an unmatched click NULL-emits once the watermark passes the TOP
    of its forward match window (``click_ts + 30 min`` — the latest
    purchase it could ever join). The two expiry frontiers differ by
    exactly the interval width, which is the part naive oracles get
    wrong; the closed form encodes both and was verified empirically at
    sf0.001/sf0.01/sf0.1.

    Scale: same bounded state as the left-outer key on both sides —
    eviction at the per-side state watermark is what keeps a bilateral
    100 TB/day attribution join's stores finite."""
    path, src = _land_events(spark, sf_dir, "ssfoj", n_files=2)
    purchases = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "20 days")
    )
    clicks = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "20 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts BETWEEN "
            "purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    return _run_to_memory(spark, joined, "mem_ssfoj", "append")


@query(
    "stream_windowed_topk",
    oracle=f"""
WITH counts AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, {BIGCOUNT('*')} AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT window_start, event_type, n,
         CAST(row_number() OVER (PARTITION BY window_start
              ORDER BY n DESC, event_type) AS INT) AS rnk
  FROM counts)
SELECT window_start, event_type, n, rnk
FROM ranked WHERE rnk <= 3
""",
    category="I",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hour over a file stream: the streaming
    stage is the incremental windowed count (complete output mode — the
    only mode where per-window ranks are well-defined, since a rank can
    demote on any late increment); the rank itself is a batch window
    function over the materialized state, exactly where a serving layer
    computes it. Ties break on event_type for a deterministic multiset.

    Scale: the streaming agg state is |windows × types| (tiny); the
    ranking input is the same aggregate, so the top-k never touches the
    raw stream."""
    path, src = _land_events(spark, sf_dir, "wtopk", n_files=3)
    sdf = (
        _read_stream(spark, path, src.schema)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    counts = _run_to_memory(spark, sdf, "mem_wtopk", "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n", "rnk")
    )


@query(
    "stream_stream_semi_join",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click'
      AND CAST(c.ts AS TIMESTAMP)
          BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
              AND CAST(p.ts AS TIMESTAMP))
""",
    category="I",
)
def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: purchases that HAD a same-user
    click in the preceding 30 minutes, emitting only the left row — the
    streaming existence filter (qualified-conversion gate) where the
    inner join's row multiplication is unwanted. Same watermark + time-
    range state-eviction story as stream_stream_join; semi output means
    each purchase emits at most once, so append mode equals the batch
    EXISTS → full SQL oracle."""
    path, src = _land_events(spark, sf_dir, "sssemi", n_files=2)
    purchases = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "35 days")
    )
    clicks = (
        _read_stream(spark, path, src.schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "35 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts BETWEEN "
            "purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"
        ),
        "left_semi",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
    )
    return _run_to_memory(spark, joined, "mem_sssemi", "append")


# --- exactly-once manifest sink (round 11) ---------------------------------


@query(
    "stream_manifest_sink",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    category="I",
)
def stream_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming sink into the manifest substrate (VERDICT
    r10 ask #5) — the streaming-lakehouse write path real pipelines
    run, composing ``stream_checkpoint_resume``'s kill/restart with the
    loaders' atomic-commit protocol: ``foreachBatch`` writes each
    micro-batch as a version-committed file group (see
    ``msink_commit_batch`` — one POSIX-atomic ``os.link`` per version is
    both claim and commit), so a batch REPLAYED after a crash between
    the sink write and the checkpoint commit is detected by batch_id in
    the log and skipped: the restart neither loses nor duplicates a
    commit.

    The run exercises all three paths: phase 1 streams 3 landed files
    (one batch each), the query STOPS; batch 0 is then re-delivered
    MANUALLY against the live log (the crash-replay Spark would issue —
    must skip, log unchanged, law-tested); 3 more files land and phase 2
    restarts from the SAME checkpoint, committing only the new batches.
    The read-back folds the commit log and must equal the batch
    projection of ALL events exactly once — the full hash oracle fails
    on any lost or doubled batch.

    Scale: each micro-batch commit is O(1) driver-side metadata (one
    exclusive link) on top of the batch's own distributed write —
    exactly the Delta/Iceberg streaming-sink cost model; the log fold
    is a planning-time metadata read; groups stay pruned parquet
    scans."""
    import glob
    import os

    path_all, src = _land_events(spark, sf_dir, "msink_all", n_files=6)
    live = artifact_path(sf_dir, "msink_live")
    table_dir = artifact_path(sf_dir, "msink_table")
    ckpt = artifact_path(sf_dir, "msink_ckpt")
    for d in (live, table_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(live)
    parts = sorted(glob.glob(os.path.join(path_all, "part-*.parquet")))
    proj = ["event_id", "user_id", "event_type", "value"]

    def run_phase() -> None:
        with _stream_width(spark):
            q = (
                _read_stream(spark, live, src.schema)
                .select(*proj)
                .writeStream.foreachBatch(
                    lambda bdf, bid: tablelog.msink_commit_batch(
                        table_dir, bdf, bid
                    )
                    and None
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for i, f in enumerate(parts[:3]):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()

    # crash-replay: re-deliver batch 0's exact rows against the live log
    replay = spark.read.parquet(
        os.path.join(live, "part-00000.parquet")
    ).select(*proj)
    outcome = tablelog.msink_commit_batch(table_dir, replay, 0)
    if outcome != "skipped":
        raise RuntimeError(f"replayed batch must be skipped, got {outcome}")

    for i, f in enumerate(parts[3:], start=3):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()
    return tablelog.msink_read(spark, table_dir)


# --- exactly-once streaming MERGE (round 11) --------------------------------

_FBM_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(ts) AS last_ts,
       arg_max(event_type, ts) AS last_type
FROM events GROUP BY user_id
"""


def fbm_merge_batch(
    spark: SparkSession,
    table_dir: str,
    bdf: DataFrame,
    batch_id: int,
    _pre_claim_hook=None,
) -> str:
    """MERGE one micro-batch into the versioned per-user state table at
    ``table_dir`` — the ``foreachBatch`` + MERGE pattern Delta documents
    for streaming upserts (public), on the same atomic commit-log
    protocol as :func:`~dbsuite_spark.etl.tablelog.msink_commit_batch`:
    each commit record is published by
    :func:`~dbsuite_spark.etl.tablelog._try_claim_version` and carries
    the batch_id, so a replayed batch is skipped and the merge is
    exactly-once even though MERGE itself is not idempotent.

    RACE SEMANTICS differ from the append-only sink: each commit's file
    group is the FULL new state snapshot and the reader materializes
    only the LATEST commit, so losing the version claim to a FOREIGN
    batch means this attempt's snapshot is STALE — the loop re-reads
    the log and RE-MERGES against the new latest state before retrying
    (just bumping the version, as the append sink does, would publish a
    snapshot missing the winner's merge — a lost update; law-tested via
    the ``_pre_claim_hook`` race-injection point, test-only).

    The merge is ASSOCIATIVE on purpose (counts add; the (ts, type)
    argmax keeps the greater timestamp side), so the final state is
    independent of how files split into micro-batches — which is what
    makes the full batch-SQL oracle valid for any trigger cadence.

    A 100 TB deployment would COW key-range groups instead of full
    snapshots (etl_merge_cow_manifest's mechanics) — the commit/replay
    protocol is identical either way."""
    import os

    os.makedirs(table_dir, exist_ok=True)
    delta = bdf.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(F.struct("ts", "event_type")).alias("last"),
    )
    while True:
        commits = tablelog._log_commits(table_dir)
        docs = [tablelog.read_json(c) for c in commits]
        if any(d["batch_id"] == batch_id for d in docs):
            return "skipped"  # replay of a committed batch

        if docs:
            prev = spark.read.parquet(docs[-1]["group"]).select(
                "user_id",
                "n_events",
                F.struct(
                    F.col("last_ts").alias("ts"),
                    F.col("last_type").alias("event_type"),
                ).alias("last"),
            )
            merged = (
                prev.select("user_id", "n_events", "last")
                .unionByName(delta)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.max("last").alias("last"),
                )
            )
        else:
            merged = delta
        out_rows = merged.select(
            "user_id",
            "n_events",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_type").alias("last_type"),
        )
        group = tablelog._attempt_path(table_dir, "state", batch_id)
        out_rows.write.mode("overwrite").parquet(group)
        if _pre_claim_hook is not None:
            hook, _pre_claim_hook = _pre_claim_hook, None
            hook()  # test-only race injection between write and claim
        # filename-derived next version (not len()): robust if a state
        # log ever composes with expiry the way the append log does
        next_version = (
            tablelog._commit_version(commits[-1]) + 1 if commits else 0
        )
        out = tablelog._try_claim_version(
            table_dir,
            next_version,
            {"batch_id": batch_id, "group": group},
            batch_id,
        )
        if out != "lost":
            return out
        # lost to a foreign writer: loop — re-read, RE-MERGE, retry


def fbm_read_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Materialize the LATEST committed state snapshot."""
    commits = tablelog._log_commits(table_dir)
    if not commits:
        raise RuntimeError(f"empty state-table log at {table_dir}")
    return spark.read.parquet(tablelog.read_json(commits[-1])["group"])


@query("stream_foreachbatch_merge", oracle=_FBM_ORACLE, category="I")
def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING MERGE (upsert) into the manifest
    substrate — the stateful sibling of ``stream_manifest_sink``'s
    append-only path and the streaming twin of ``etl_merge_upsert``:
    each micro-batch folds into a per-user state table (event count +
    latest (ts, type) argmax) through :func:`fbm_merge_batch`, with the
    same three failure paths exercised — phase 1 streams 3 files and
    stops, batch 0 is re-delivered manually (must skip: MERGE applied
    twice would double the counts — THE reason real streaming MERGE
    needs txn-id dedup), 3 more files land, phase 2 resumes from the
    same checkpoint. The final state must hash-equal the batch GROUP BY
    over all events — any lost or double-merged batch breaks counts.

    Scale: per-batch work is one map-side-combined aggregate of the
    batch + one |users|-bounded merge; the commit is one atomic link.
    The associative fold (sum + struct-max) is what lets micro-batch
    boundaries vary freely on a cluster without changing the result."""
    import glob
    import os

    path_all, src = _land_events(spark, sf_dir, "fbm_all", n_files=6)
    live = artifact_path(sf_dir, "fbm_live")
    table_dir = artifact_path(sf_dir, "fbm_table")
    ckpt = artifact_path(sf_dir, "fbm_ckpt")
    for d in (live, table_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(live)
    parts = sorted(glob.glob(os.path.join(path_all, "part-*.parquet")))
    proj = ["user_id", "event_type", "ts"]

    def run_phase() -> None:
        with _stream_width(spark):
            q = (
                _read_stream(spark, live, src.schema)
                .select(*proj)
                .writeStream.foreachBatch(
                    lambda bdf, bid: fbm_merge_batch(
                        spark, table_dir, bdf, bid
                    )
                    and None
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for i, f in enumerate(parts[:3]):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()

    # crash-replay: batch 0 re-delivered — a second MERGE of the same
    # rows would double every count it touches; must skip
    replay = spark.read.parquet(
        os.path.join(live, "part-00000.parquet")
    ).select(*proj)
    outcome = fbm_merge_batch(spark, table_dir, replay, 0)
    if outcome != "skipped":
        raise RuntimeError(f"replayed batch must be skipped, got {outcome}")

    for i, f in enumerate(parts[3:], start=3):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()
    return fbm_read_state(spark, table_dir)


# --- streaming deletes into the DV substrate (round 12) ---------------------


def sdv_read_state(
    spark: SparkSession, base_dir: str, dv_log_dir: str
) -> DataFrame:
    """MERGE-ON-READ over a streamed deletion-vector log: scan the
    immutable base groups, anti-join the union of all committed DV
    batches (orders keys are unique, so the key-set DV applies
    table-wide in ONE broadcast anti-join — same read path as
    ``etl_manifest_deletion_vectors``'s v2). An empty log reads the
    base verbatim. Module-level so the law tests can interleave reads
    with commits.

    The DV log resolves through the CHECKPOINTED reader (VERDICT r12
    ask #3): a long-running delete stream's log can be checkpointed and
    its prefix expired without unbounding reads — the dense-log
    ``msink_read`` would refuse the expired log outright, and the old
    commit-glob liveness test would silently read the base VERBATIM
    (resurrecting every deleted row) once expiry emptied the commit
    listing while the deletes live on in the checkpoint. Law: the MOR
    read is byte-identical before and after DV-log checkpoint+expire."""
    base = spark.read.parquet(base_dir).select(
        "o_orderkey", "o_totalprice"
    )
    commits = tablelog._log_commits(dv_log_dir)
    if commits or tablelog._checkpoints(dv_log_dir):
        dvs, _, _ = tablelog.mlog_read_checkpointed(spark, dv_log_dir)
        base = base.join(
            F.broadcast(dvs.select("o_orderkey")), "o_orderkey", "left_anti"
        )
    return base


_SDV_ORACLE = (
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 12 > 5"
)


@query("stream_dv_delete", oracle=_SDV_ORACLE, category="I")
def stream_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DELETES into the deletion-vector substrate (VERDICT
    r11 ask #5) — the streaming GDPR/right-to-be-forgotten path real
    pipelines run: delete-request batches (key lists) arrive as a file
    stream and each micro-batch commits a DELETION VECTOR exactly-once
    through the same atomic commit-log protocol as
    ``stream_manifest_sink`` (``tablelog.msink_commit_batch``); the base
    table's data files are NEVER rewritten (law-tested: base part-file
    bytes are identical before and after the whole stream), and readers
    see merge-on-read state via :func:`sdv_read_state`.

    Composition under test: orders lands once as an immutable
    key-range-grouped snapshot (the ``etl_manifest_deletion_vectors``
    layout); six delete batches (disjoint ``o_orderkey % 12 == i``
    slices, i < 6) stream through ``foreachBatch`` in two phases with a
    manual re-delivery of batch 0 between them — the kill/resume +
    crash-replay path. The replay must return 'skipped': a DV applied
    twice happens to be value-idempotent, but a re-COMMITTED one would
    double the log and break the exactly-once accounting the metadata
    layer (incremental readers, checkpointing) depends on. The final
    read must hash-equal ``WHERE o_orderkey % 12 > 5`` over orders.

    Scale: each delete commit writes |matched keys| rows of DV + one
    atomic link — cost ∝ the request batch, never the table; the MOR
    read is pruned base-group scans + one broadcast anti-join of the
    (small) DV union; compaction (``etl_manifest_deletion_vectors`` v3)
    composes to rewrite only DV-carrying groups when read-amplification
    accumulates."""
    import glob
    import os

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base_dir = artifact_path(sf_dir, "sdv_base")
    dv_log = artifact_path(sf_dir, "sdv_dvlog")
    req_dir = artifact_path(sf_dir, "sdv_requests")
    live = artifact_path(sf_dir, "sdv_live")
    ckpt = artifact_path(sf_dir, "sdv_ckpt")
    for d in (base_dir, dv_log, req_dir, live, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(live)

    # immutable base snapshot in key-range file groups (DV layout)
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    width = max_key // DV_GROUPS + 1
    orders.withColumn("grp", F.expr(f"o_orderkey div {width}")).write.mode(
        "overwrite"
    ).partitionBy("grp").parquet(base_dir)

    # six single-file delete-request batches (GDPR key lists)
    parts = []
    req_schema = None
    for i in range(6):
        sl = orders.filter(F.col("o_orderkey") % 12 == i).select(
            "o_orderkey"
        )
        req_schema = sl.schema
        out = os.path.join(req_dir, f"r{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(out)
        parts.append(glob.glob(os.path.join(out, "part-*.parquet"))[0])

    def run_phase() -> None:
        with _stream_width(spark):
            q = (
                _read_stream(spark, live, req_schema)
                .writeStream.foreachBatch(
                    lambda bdf, bid: tablelog.msink_commit_batch(
                        dv_log, bdf, bid
                    )
                    and None
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for i, f in enumerate(parts[:3]):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()

    # crash-replay: delete batch 0 re-delivered — must skip, or the DV
    # log double-counts the batch and every log consumer downstream
    # (incremental reads, checkpoints) sees a phantom commit
    replay = spark.read.parquet(os.path.join(live, "part-00000.parquet"))
    outcome = tablelog.msink_commit_batch(dv_log, replay, 0)
    if outcome != "skipped":
        raise RuntimeError(
            f"replayed delete batch must be skipped, got {outcome}"
        )

    for i, f in enumerate(parts[3:], start=3):
        shutil.copy(f, os.path.join(live, f"part-{i:05d}.parquet"))
    run_phase()
    return sdv_read_state(spark, base_dir, dv_log)


# --- streaming change-feed: tailing the commit log (round 13) ---------------


def _tail_cursor(consumer_dir: str) -> int:
    """The consumer's persisted version cursor (0 when none exists) —
    O(1) consumer state, exactly a Kafka consumer-group offset."""
    import os

    path = os.path.join(consumer_dir, "cursor.json")
    if not os.path.exists(path):
        return 0
    return tablelog.read_json(path)["offset"]


def _persist_cursor(consumer_dir: str, offset: int) -> None:
    """Atomically persist the consumer cursor
    (:func:`~dbsuite_spark.etl.tablelog.publish_json`): a crash
    mid-persist leaves the OLD cursor, and the tail's downstream commits
    are keyed by upstream version, so re-consuming the range is
    dedup-skipped — at-least-once cursor persistence + idempotent
    commits = exactly-once delivery."""
    import os

    os.makedirs(consumer_dir, exist_ok=True)
    tablelog.publish_json(
        os.path.join(consumer_dir, "cursor.json"), {"offset": offset}
    )


def mlog_tail_once(
    spark: SparkSession, src_dir: str, dst_dir: str, consumer_dir: str
) -> int:
    """ONE iteration of the change-feed tail (VERDICT r12 ask #2):
    poll the upstream commit log from the persisted cursor
    (:func:`~dbsuite_spark.etl.tablelog.mlog_poll` — version-cursor
    semantics incl. the offset-out-of-range error when the unread range
    was expired), then re-publish each unread upstream version as ONE
    exactly-once downstream commit keyed by that version. Returns the
    number of DATA versions delivered (0 = caught up, or the unread
    range held only data_change=false rewrites — the cursor still
    advances past those).

    Per-VERSION downstream batches (not one batch per poll) are what
    make replay safe: a crash between a downstream commit and the
    cursor persist re-consumes from the old cursor, and because each
    batch's content is a pure function of its upstream version, the
    downstream dedup (``tablelog.msink_commit_batch`` by batch_id) skips
    every already-delivered version — whereas a whole-poll batch
    re-polled after MORE upstream commits landed would carry different
    content under the same id and silently drop the difference.

    A version listed by the poll but expired before its per-version
    re-read is an honest retention error (the same contract as a Kafka
    consumer outrun by retention): per-commit granularity is exactly
    what a checkpoint fold does not preserve, so upstream retention
    must outlast consumer lag — law-tested.

    Scale: each iteration moves O(new commits) metadata + their group
    scans, never a table rescan; the downstream commit is the same
    O(1)-link protocol as any manifest sink; the cursor is one small
    JSON. This is the Delta/Iceberg streaming-source model (public:
    their streaming reads tail the transaction log by version) built
    from this repo's own log primitives."""
    offset = _tail_cursor(consumer_dir)
    df, n_new, new_offset = tablelog.mlog_poll(spark, src_dir, offset)
    if new_offset == offset:
        return 0  # genuinely caught up
    # new_offset may advance past a df-less range (all compaction
    # commits): the walk below still advances the cursor through them,
    # or a later expiry of the compacted prefix would strand this
    # consumer behind retention for data it never needed
    for v in range(offset, new_offset):
        try:
            doc = tablelog.read_json(tablelog._commit_path(src_dir, v))
        except FileNotFoundError:
            raise RuntimeError(
                f"tail consumer at offset {v} outrun by retention at "
                f"{src_dir}: the version was expired between the poll "
                "and its read"
            ) from None
        if doc.get("data_change", True):
            delta = tablelog._fold_docs(spark, [doc])
            # keyed by src version
            tablelog.msink_commit_batch(dst_dir, delta, v)
        # a data_change=false commit (compaction) rewrites data the
        # feed already delivered — skip it, advance past it (Delta's
        # streaming sources skip dataChange=false files, public)
        _persist_cursor(consumer_dir, v + 1)
    return n_new


_TAIL_ORACLE = (
    "SELECT event_id, user_id, event_type, value FROM events"
)


@query("stream_log_tail", oracle=_TAIL_ORACLE, category="I")
def stream_log_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE-FEED over the commit log (VERDICT r12 ask #2)
    — the table-as-a-stream composition: an upstream manifest table
    receives commits while a downstream consumer TAILS it continuously,
    re-publishing every upstream version as an exactly-once downstream
    commit (:func:`mlog_tail_once`: version cursor → per-version
    batches → idempotent sink). This is the missing half of
    ``etl_manifest_incremental_read``: not one batch poll, but a
    long-lived consumer surviving crash-replay, kill/resume, AND
    upstream checkpoint+expiry mid-stream.

    The run drives one consumer identity (persisted cursor) through
    six upstream commits (disjoint ``event_id % 6`` slices of events)
    in two phases with every failure mode between them:

    - phase 1: commits 0-2 land interleaved with tail iterations (tail
      after each commit — commits in, micro-batches out);
    - crash-replay: the cursor is REWOUND to 0 (the crash between
      downstream commit and cursor persist) and the tail re-runs — all
      three versions must dedup-skip downstream (log length unchanged);
    - upstream is CHECKPOINTED and its folded prefix EXPIRED — the
      caught-up consumer keeps tailing across it, while a fresh
      consumer at offset 0 now correctly gets out-of-range (law-tested
      in tests/test_round13_semantics.py);
    - phase 2 (kill/resume): a "restarted" consumer resumes from the
      persisted cursor and consumes commits 3-5.

    The returned fold of the DOWNSTREAM table must hash-equal the full
    events projection: any lost, doubled, or torn version fails the
    oracle.

    Scale: consumer state is one O(1) cursor; each iteration moves only
    the new versions' groups (change-data movement ∝ delta, never a
    rescan); both logs stay bounded by checkpoint+expiry — upstream is
    expired IN THIS RUN, downstream composes with the same tools. The
    loop body is exactly what a Delta/Iceberg streaming source does per
    trigger (tail the log by version), expressed with this repo's
    primitives because PySpark exposes no user Source API."""
    import shutil as _shutil

    src = artifact_path(sf_dir, "logtail_src")
    dst = artifact_path(sf_dir, "logtail_dst")
    consumer = artifact_path(sf_dir, "logtail_consumer")
    for d in (src, dst, consumer):
        _shutil.rmtree(d, ignore_errors=True)  # idempotent re-run

    events = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def produce(i: int) -> None:
        if (
            tablelog.msink_commit_batch(
                src, events.filter(F.col("event_id") % 6 == i), i
            )
            != "committed"
        ):
            raise RuntimeError(f"upstream batch {i} failed to commit")

    # phase 1: commits in, micro-batches out — tail after every commit
    for i in range(3):
        produce(i)
        if mlog_tail_once(spark, src, dst, consumer) != 1:
            raise RuntimeError(f"tail missed upstream version {i}")

    # crash-replay: rewind the cursor to 0 (crash between downstream
    # commit and cursor persist); the re-run must re-deliver nothing
    n_log = len(tablelog._log_commits(dst))
    _persist_cursor(consumer, 0)
    if mlog_tail_once(spark, src, dst, consumer) != 3:
        raise RuntimeError("rewound tail must re-scan all 3 versions")
    if len(tablelog._log_commits(dst)) != n_log:
        raise RuntimeError("replayed versions re-committed downstream")
    if _tail_cursor(consumer) != 3:
        raise RuntimeError("replayed tail failed to re-advance cursor")

    # bound the upstream log mid-stream: the caught-up consumer's
    # cursor (3) sits past the checkpoint (k=2), so tailing continues
    tablelog.mlog_checkpoint(src)
    if tablelog.mlog_expire_checkpointed(src) != 3:
        raise RuntimeError("expected upstream prefix to expire")
    if mlog_tail_once(spark, src, dst, consumer) != 0:
        raise RuntimeError("caught-up tail must idle across expiry")

    # phase 2: kill/resume — a restarted consumer picks up the
    # persisted cursor and consumes only the new commits
    for i in range(3, 6):
        produce(i)
    if mlog_tail_once(spark, src, dst, consumer) != 3:
        raise RuntimeError("resumed tail must consume versions 3-5")

    return tablelog.mlog_read_checkpointed(spark, dst)[0]
