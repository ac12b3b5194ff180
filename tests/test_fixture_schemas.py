"""Fixture schema-drift canary (round-2 lesson).

The round driver REGENERATES /root/testdata between rounds and the
physical parquet schemas can change — at round-2 start, ``events.ts``
switched from TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ) and every
events-based key failed at analysis time until ``tables.t()`` learned
both layouts. ``t()`` now DECLARES ``tables.FIXTURE_SCHEMA`` on every
read instead of inferring, so reading through it can no longer show
drift: the canary compares Spark's INFERRED schema of each raw fixture
file against the declaration, so the first pytest run of a round points
straight at the drifted table instead of failing obscurely deep inside
some operator. The drift tests below pin ``t()``'s own footer check on
tmp copies of the fixtures.

If this test fails: the fixtures changed. Update
``dbsuite_spark/tables.FIXTURE_SCHEMA`` (NOT the operators) so downstream
code keeps seeing stable types, if the change is intentional and benign.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbsuite_spark.tables import FIXTURE_SCHEMA, TABLES, FixtureDriftError, t

# The canonical descriptor lives in tables.FIXTURE_SCHEMA (also feeds the
# catalog_document oracle via etl/sources._DOC_SCHEMA) — one copy, so the
# canary and the oracle cannot be updated inconsistently (ADVICE r02).
# The one column whose declared type differs from Spark's inference:
# TIMESTAMP(MICROS, NTZ) infers as timestamp_ntz; t() declares timestamp.
INFERRED_AS = {("events", "ts"): "timestamp_ntz"}


@pytest.mark.parametrize("table", TABLES)
def test_normalized_fixture_schema(spark, sf_dir, table):
    raw = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    got = [(f.name, f.dataType.simpleString()) for f in raw.schema.fields]
    want = [
        (c, INFERRED_AS.get((table, c), ty)) for c, ty in FIXTURE_SCHEMA[table]
    ]
    assert got == want, (
        f"fixture drift in '{table}' — the driver regenerated testdata "
        f"with a different schema; update dbsuite_spark/tables."
        f"FIXTURE_SCHEMA (got {got})"
    )


def _copy(sf_dir, tmp_path, table, edit):
    """Write ``edit(<fixture as an arrow table>)`` as ``table``'s file in
    a tmp fixture dir, and return that dir."""
    src = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    pq.write_table(edit(src), str(tmp_path / f"{table}.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "edit",
    [
        lambda tb: tb.rename_columns(["r_regionkey", "r_title"]),
        lambda tb: tb.select(["r_name", "r_regionkey"]),
    ],
    ids=["renamed", "reordered"],
)
def test_t_raises_on_column_drift(spark, sf_dir, tmp_path, edit):
    """A declared schema would read a renamed column as NULLs, so the
    footer check refuses any rename or reorder of a fixture's columns."""
    drifted = _copy(sf_dir, tmp_path, "region", edit)
    with pytest.raises(FixtureDriftError, match="fixture drift in 'region'"):
        t(spark, drifted, "region")


def test_t_raises_on_nanosecond_timestamps(spark, sf_dir, tmp_path):
    """The round-1 ``events.ts`` layout (parquet TIMESTAMP(NANOS)) must
    raise in ``t()``, not inside the first job or as wrong timestamps."""

    def to_nanos(tb):
        i = tb.schema.get_field_index("ts")
        return tb.set_column(i, "ts", tb["ts"].cast(pa.timestamp("ns")))

    drifted = _copy(sf_dir, tmp_path, "events", to_nanos)
    assert pq.read_schema(os.path.join(drifted, "events.parquet")).field(
        "ts"
    ).type == pa.timestamp("ns")
    with pytest.raises(FixtureDriftError, match=r"timestamps \['ts'\]"):
        t(spark, drifted, "events")


def test_embedding_dim_matches_constant(spark, sf_dir):
    """The kmeans/similarity oracles inline range(1, DIM+1); a fixture
    regeneration with a different embedding width would silently make
    the oracles (not Spark) wrong. Pin it here like the schema canary."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.clustering import DIM
    from dbsuite_spark.tables import t

    row = (
        t(spark, sf_dir, "embeddings")
        .agg(
            F.min(F.size("embedding")).alias("lo"),
            F.max(F.size("embedding")).alias("hi"),
        )
        .first()
    )
    assert row.lo == row.hi == DIM, (
        f"embedding dim drifted to [{row.lo},{row.hi}] != {DIM}; update "
        f"pipeline/clustering.DIM and re-check every range(1, DIM+1) oracle"
    )


def test_user_ts_uniqueness(spark, sf_dir):
    """Sequence-ordered operators (pattern match via the comma-joined
    per-user stream, EWMA's hour series, as-of sides) assume each user's
    timestamps are distinct. They all carry explicit tie-breaks now, but
    a regenerated fixture with collisions would still silently change
    semantics (two orders of simultaneous events are both 'correct') —
    surface the drift loudly here instead."""
    from pyspark.sql import functions as F

    from dbsuite_spark.tables import t

    dupes = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dupes == 0, (
        f"{dupes} (user_id, ts) collisions — fixture drift; re-audit "
        "sequence-ordered operators' tie-breaks"
    )


def test_rank_tiebreak_keys_are_unique(spark, sf_dir):
    """Rank ARITHMETIC (not just rank-ordered output) requires a
    genuinely total order: `agg_xi_correlation` discovered the hard way
    that lineitem's (l_orderkey, l_linenumber) is NOT unique in this
    synthetic fixture (6000 rows, ~4600 distinct pairs at sf0.001), so
    row_number over it is engine-dependent. The keys that DO back rank
    arithmetic — o_orderkey, vec_id, doc_id, event_id — must stay
    unique; if a regenerated fixture breaks one, every operator
    tie-breaking on it silently loses cross-engine determinism."""
    from pyspark.sql import functions as F

    from dbsuite_spark.tables import t

    for table, key in (
        ("orders", "o_orderkey"),
        ("embeddings", "vec_id"),
        ("documents", "doc_id"),
        ("events", "event_id"),
    ):
        df = t(spark, sf_dir, table)
        total = df.count()
        distinct = df.select(key).distinct().count()
        assert total == distinct, (
            f"{table}.{key}: {total} rows but {distinct} distinct — "
            "rank tie-breaks on this key are no longer total orders"
        )


def test_weight_columns_are_positive(spark, sf_dir):
    """Weighted samplers divide by a weight column: zero would yield
    NULL on Spark (div-by-zero -> NULL) but -inf in DuckDB. The
    operators now clamp with greatest(w, 1) on both sides, but a
    regenerated fixture with zero/negative n_chars would still change
    the sampling distribution silently — surface the drift here."""
    from pyspark.sql import functions as F

    from dbsuite_spark.tables import t

    bad = (
        t(spark, sf_dir, "documents")
        .filter(F.col("n_chars") <= 0)
        .count()
    )
    assert bad == 0, (
        f"{bad} documents with n_chars <= 0 — weighted samplers "
        "(sample_weighted_reservoir, docs_sample_weighted) assume "
        "strictly positive weights"
    )
