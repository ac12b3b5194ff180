"""Reads whose schema the program already knows start no Spark job.

A ``spark.read.parquet`` without a schema runs one Spark job just to
read footers and infer it. ``tables.t()`` declares ``FIXTURE_SCHEMA``
and the commit log records each group's schema in its commit doc, so
building a frame from either must start no job until an action runs.
"""

from __future__ import annotations

import contextlib
import json
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbsuite_spark.etl import tablelog
from dbsuite_spark.tables import TABLES, t


@contextlib.contextmanager
def _jobs_started(spark):
    """Yield a list that, after the block, holds the ids of the Spark
    jobs the block started (a job group scoped to it)."""
    sc = spark.sparkContext
    group = f"read-jobs-{uuid.uuid4().hex[:8]}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )


def test_t_starts_no_job(spark, sf_dir):
    with _jobs_started(spark) as jobs:
        frames = [t(spark, sf_dir, name) for name in TABLES]
        assert all(f.schema.fields for f in frames)
    assert jobs == []


def test_commit_log_reads_start_no_job(spark, tmp_path):
    table = str(tmp_path / "tbl")
    assert tablelog.msink_commit_batch(table, _batch(spark, 0, 10), 0) == "committed"
    assert tablelog.msink_commit_batch(table, _batch(spark, 10, 25), 1) == "committed"
    with _jobs_started(spark) as jobs:
        head = tablelog.msink_read(spark, table)
        pinned, _, _ = tablelog.mlog_read_asof(spark, table, 0)
        assert head.columns == pinned.columns == ["k", "v"]
    assert jobs == []
    assert head.count() == 25 and pinned.count() == 10


def test_commit_doc_records_written_schema(spark, tmp_path):
    table = str(tmp_path / "tbl")
    bdf = _batch(spark, 0, 5)
    tablelog.msink_commit_batch(table, bdf, 0)
    doc = tablelog.read_json(tablelog._commit_path(table, 0))
    recorded = T.StructType.fromJson(json.loads(doc["schema"]))
    assert recorded == tablelog.msink_read(spark, table).schema
    assert [(f.name, f.dataType) for f in recorded] == [
        (f.name, f.dataType) for f in bdf.schema
    ]
    tablelog.mlog_checkpoint(table)
    _, groups = tablelog._checkpoint_state(table)
    assert [g["schema"] for g in groups] == [doc["schema"]]


def test_fold_of_disagreeing_schemas_raises(spark, tmp_path):
    table = str(tmp_path / "tbl")
    tablelog.msink_commit_batch(table, _batch(spark, 0, 5), 0)
    tablelog.msink_commit_batch(
        table, _batch(spark, 5, 9).withColumn("v", F.col("v").cast("string")), 1
    )
    with pytest.raises(RuntimeError, match="one recorded schema"):
        tablelog.msink_read(spark, table)


def test_fold_of_doc_without_schema_raises(spark, tmp_path):
    table = str(tmp_path / "tbl")
    tablelog.msink_commit_batch(table, _batch(spark, 0, 5), 0)
    path = tablelog._commit_path(table, 0)
    doc = tablelog.read_json(path)
    del doc["schema"]
    with open(path, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(RuntimeError, match="one recorded schema"):
        tablelog.msink_read(spark, table)


def test_all_pruned_read_is_empty_with_the_table_schema(spark, tmp_path):
    table = str(tmp_path / "tbl")
    bdf = _batch(spark, 0, 5)
    tablelog.msink_commit_batch(
        table, bdf, 0, stats={"k": {"min": 0, "max": 4}}
    )
    with _jobs_started(spark) as jobs:
        df, n = tablelog.mlog_read_pruned_cols(spark, table, {"k": (100, 200)})
        assert n == 0 and df.columns == ["k", "v"]
    assert jobs == []
    assert df.count() == 0
    assert [f.dataType for f in df.schema] == [f.dataType for f in bdf.schema]
