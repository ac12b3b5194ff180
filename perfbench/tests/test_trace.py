"""Tests for the traced run's parsers.

``eventlog_fragment.jsonl`` holds real Spark 4 event-log lines (trimmed to
the fields the parser reads) for two keys of one pass:
``udf_pandas_vectorized`` (one build job, one exec job) and
``stream_session_window`` (three build jobs in the step's job group, one
micro-batch job that streaming tagged with its own run id, one exec job).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

FRAGMENT = os.path.join(HERE, "eventlog_fragment.jsonl")
UDF = (0, "udf_pandas_vectorized")
STREAM = (0, "stream_session_window")


def _parse(windows: tracing.Windows):
    with open(FRAGMENT) as f:
        return tracing.parse_event_log(f, windows)


def _stream_windows() -> tracing.Windows:
    w = tracing.Windows()
    w.add((*STREAM, "build"), 1792176087.400, 1792176088.100)
    w.add((*STREAM, "exec"), 1792176088.600, 1792176088.700)
    return w


def test_job_groups_attribute_jobs_to_steps():
    out = _parse(tracing.Windows())
    assert out[(*UDF, "build")]["jobs"] == 1
    assert out[(*UDF, "exec")]["jobs"] == 1
    assert out[(*UDF, "exec")]["executor_cpu_ns"] == 85717940
    # Without a window, the micro-batch job (own job group) is not counted.
    assert out[(*STREAM, "build")]["jobs"] == 3


def test_window_catches_jobs_outside_the_job_group():
    build = _parse(_stream_windows())[(*STREAM, "build")]
    assert build["jobs"] == 4
    # Job 134 lists two stages but runs one; the micro-batch runs two.
    assert build["stages"] == 5
    assert build["tasks"] == 16
    assert build["failed_tasks"] == 0
    assert build["executor_cpu_ns"] == 424939077
    assert build["shuffle_write_bytes"] == 335909
    assert build["output_bytes"] == 119862
    assert build["output_records"] == 10000
    assert build["task_wait_ms"] == 971


def test_exec_step_counts():
    ex = _parse(_stream_windows())[(*STREAM, "exec")]
    assert (ex["jobs"], ex["stages"], ex["tasks"], ex["task_wait_ms"]) == (1, 1, 4, 30)


def test_windows_find():
    w = _stream_windows()
    assert w.find(1792176087400) == (*STREAM, "build")
    assert w.find(1792176088300) is None
    assert w.find(1792176088650) == (*STREAM, "exec")
    assert w.find(0) is None


def test_plan_counts():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS, [plan_id=10]
      +- HashAggregate(keys=[k#1], functions=[partial_sum(v#2)])
         +- ArrowEvalPython [f(x#3)#4], [pythonUDF0#5], 200
            +- BroadcastHashJoin [a#6], [b#7], Inner, BuildRight, false
               :- FileScan parquet [a#6] Batched: true
               +- BroadcastExchange HashedRelationBroadcastMode(List(b#7)), [plan_id=7]
                  +- *(1) MapInPandas f(b#7), [b#7]
"""
    assert tracing.plan_counts(plan) == (2, 2)
