"""Streaming-specific checks beyond the differential oracle (SURVEY §5.3.4):
the weak-checked watermark-append key must emit a subset of its batch twin,
and a healthy fraction of it (the cadence is 6 time-ranged files, so the
watermark crosses most window ends before end-of-stream)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbsuite_spark.streaming.streams import stream_watermark_append
from dbsuite_spark.tables import t


def test_watermark_append_subset_of_batch_twin(spark, sf_dir):
    emitted = stream_watermark_append(spark, sf_dir).collect()
    batch = {
        (r.window_start, r.window_end, r.event_type, r.n)
        for r in (
            t(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type",
                "n",
            )
        ).collect()
    }
    got = {(r.window_start, r.window_end, r.event_type, r.n) for r in emitted}
    assert got <= batch, "append emitted a row the batch twin doesn't have"
    assert len(got) >= 0.5 * len(batch), (
        f"append emitted only {len(got)}/{len(batch)} windows"
    )


# (key, [(preserved id, id NULLed when that side is unmatched), ...])
_OUTER_POPULATIONS = [
    ("stream_stream_outer_join", [("purchase_id", "click_id")]),
    ("stream_stream_right_outer_join", [("click_id", "purchase_id")]),
    (
        "stream_stream_full_outer_join",
        [("purchase_id", "click_id"), ("click_id", "purchase_id")],
    ),
]


@pytest.mark.parametrize(
    "key, populations",
    _OUTER_POPULATIONS,
    ids=[key for key, _ in _OUTER_POPULATIONS],
)
def test_outer_join_emits_both_populations(spark, sf_dir, key, populations):
    """Outer stream-stream joins: matched pairs AND watermark-expired
    NULL rows of every preserved side must both be present, and no
    preserved id may appear both matched and NULL."""
    import dbsuite_spark

    out = dbsuite_spark.all_specs()[key].fn(spark, sf_dir).cache()
    matched = out.filter(
        F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull()
    )
    assert matched.count() > 0, "no matched pairs"
    for kept, nulled in populations:
        nulls = out.filter(F.col(nulled).isNull())
        assert nulls.count() > 0, f"watermark never expired any {kept} row"
        overlap = (
            out.filter(F.col(kept).isNotNull())
            .groupBy(kept)
            .agg(
                F.sum(F.col(nulled).isNull().cast("int")).alias("n_null"),
                F.sum(F.col(nulled).isNotNull().cast("int")).alias("n_hit"),
            )
            .filter((F.col("n_null") > 0) & (F.col("n_hit") > 0))
            .count()
        )
        assert overlap == 0, f"a matched {kept} also emitted a NULL row"
    out.unpersist()


def test_tumbling_count_batch_boundary_invariant(spark, sf_dir):
    """Complete-mode aggregation must be independent of micro-batch
    boundaries: the same events landed as 1 file vs 5 files (1 file per
    trigger → 1 vs 5 micro-batches) produce identical final windows."""
    from pyspark.sql import functions as F

    from dbsuite_spark.streaming.streams import (
        _land_events,
        _read_stream,
        _run_to_memory,
    )

    def run(n_files, name):
        path, src = _land_events(
            spark, sf_dir, f"tumbling_inv_{n_files}", n_files=n_files
        )
        sdf = (
            _read_stream(spark, path, src.schema)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n",
            )
        )
        out = _run_to_memory(spark, sdf, name, "complete")
        return sorted(tuple(r) for r in out.collect())

    assert run(1, "mem_inv_one") == run(5, "mem_inv_five")


def test_session_window_landing_layout_invariant(spark, sf_dir):
    """Round-13 optimization law: the session-window result must be
    identical whether the landing zone is range-partitioned by ts or
    round-robin (``ranged=False`` — the production key's layout since the
    single-trigger complete-mode consumer never observes file
    boundaries). Guards the ranged=False rewrite of
    ``stream_session_window``."""
    from pyspark.sql import functions as F

    from dbsuite_spark.streaming.streams import (
        GAP,
        _land_events,
        _read_stream,
        _run_to_memory,
    )

    def run(ranged, name):
        path, src = _land_events(
            spark, sf_dir, f"session_inv_{int(ranged)}", n_files=3,
            ranged=ranged,
        )
        sdf = (
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
        out = _run_to_memory(spark, sdf, name, "complete")
        return sorted(tuple(r) for r in out.collect())

    assert run(True, "mem_sess_rng") == run(False, "mem_sess_rr")
