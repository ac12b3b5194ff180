"""Layer instrumentation for the traced run, all from outside the engine.

- ``parse_event_log`` folds Spark's JSON event log into per-step counters
  (jobs, stages, tasks, executor CPU, GC, shuffle, spill, output).
- ``TablesTap`` wraps the public ``dbsuite_spark.tables`` helpers and
  counts calls, ``fan_out`` repartitions and memo hits.
- ``BatchTap`` is a ``StreamingQueryListener`` that times micro-batches.
- ``plan_counts`` counts exchanges and Python-evaluation nodes in a plan.

A *step* is one (pass, key, phase) of the closed loop. Jobs carry the
step in their job group; jobs started on other threads (streaming
micro-batches set their own group) are matched to the step whose time
window holds their submission time.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import re
import sys
from collections import Counter
from collections.abc import Iterable

GROUP_PREFIX = "perfbench"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_wait_ms",
    "executor_cpu_ns",
    "executor_run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
    "output_records",
)


def group_id(step: tuple[int, str, str]) -> str:
    pass_no, key, phase = step
    return f"{GROUP_PREFIX}|{pass_no}|{key}|{phase}"


def _step_of_group(group: str | None) -> tuple[int, str, str] | None:
    parts = (group or "").split("|")
    if len(parts) == 4 and parts[0] == GROUP_PREFIX:
        return int(parts[1]), parts[2], parts[3]
    return None


class Windows:
    """Wall-clock window (epoch ms) of every step, in start order."""

    def __init__(self) -> None:
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.steps: list[tuple[int, str, str]] = []

    def add(self, step: tuple[int, str, str], start_s: float, end_s: float) -> None:
        self.starts.append(start_s * 1000)
        self.ends.append(end_s * 1000)
        self.steps.append(step)

    def find(self, t_ms: float) -> tuple[int, str, str] | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.ends[i]:
            return self.steps[i]
        return None


def parse_event_log(
    lines: Iterable[str], windows: Windows
) -> dict[tuple[int, str, str], Counter]:
    """Per-step counters from the lines of one uncompressed event log."""
    out: dict[tuple[int, str, str], Counter] = {}
    stage_step: dict[int, tuple[int, str, str]] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            step = _step_of_group(props.get("spark.jobGroup.id")) or windows.find(
                ev["Submission Time"]
            )
            if step is None:
                continue
            out.setdefault(step, Counter())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_step.setdefault(sid, step)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if "Submission Time" in info:
                stage_submit[key] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            step = stage_step.get(ev["Stage Info"]["Stage ID"])
            if step is not None:
                out[step]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            step = stage_step.get(ev["Stage ID"])
            if step is None:
                continue
            c = out[step]
            info = ev["Task Info"]
            c["tasks"] += 1
            c["failed_tasks"] += bool(info.get("Failed"))
            submit = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if submit is not None:
                c["task_wait_ms"] += max(0, info["Launch Time"] - submit)
            m = ev.get("Task Metrics") or {}
            c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            om = m.get("Output Metrics") or {}
            c["output_bytes"] += om.get("Bytes Written", 0)
            c["output_records"] += om.get("Records Written", 0)
    return out


def unit_of(metric: str) -> str:
    """The unit of a reported metric, read off its name's suffix."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith(("_ratio", "_util")):
        return "ratio"
    return "count"


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Z]\w*)")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, Python-evaluation nodes) in a physical plan's text."""
    exchanges = python = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        exchanges += name.endswith("Exchange")
        python += bool(_PYTHON_NODE.search(name))
    return exchanges, python


class TablesTap:
    """Counting wrappers around ``dbsuite_spark.tables`` helpers.

    Modules import the helpers by name, so each wrapper is rebound in
    every loaded ``dbsuite_spark`` module that holds the original."""

    NAMES = ("t", "fan_out", "memo_cache", "memo_frame")

    def __init__(self) -> None:
        self.counts: Counter = Counter()

    def install(self) -> None:
        from dbsuite_spark import tables

        originals = {n: getattr(tables, n) for n in self.NAMES}
        wrappers = {n: getattr(self, f"_wrap_{n}")(f) for n, f in originals.items()}
        for name, mod in list(sys.modules.items()):
            if not (name == "dbsuite_spark" or name.startswith("dbsuite_spark.")):
                continue
            for n, orig in originals.items():
                if getattr(mod, n, None) is orig:
                    setattr(mod, n, wrappers[n])

    def take(self) -> Counter:
        """Counts since the previous ``take``."""
        out, self.counts = self.counts, Counter()
        return out

    def _wrap_t(self, orig):
        def t(spark, sf_dir, name):
            self.counts["t.calls"] += 1
            return orig(spark, sf_dir, name)

        return t

    def _wrap_fan_out(self, orig):
        def fan_out(df, key=None):
            self.counts["fan_out.calls"] += 1
            out = orig(df, key)
            self.counts["fan_out.taken"] += out is not df
            return out

        return fan_out

    def _wrap_memo_cache(self, orig):
        def memo_cache(df, key):
            self.counts["memo.calls"] += 1
            out = orig(df, key)
            self.counts["memo.hits"] += out is not df
            return out

        return memo_cache

    def _wrap_memo_frame(self, orig):
        def memo_frame(spark, key, build):
            built = []

            def counted_build():
                built.append(1)
                return build()

            self.counts["memo.calls"] += 1
            out = orig(spark, key, counted_build)
            self.counts["memo.hits"] += not built
            return out

        return memo_frame


def batch_tap():
    """A ``StreamingQueryListener`` that records (batch start epoch s,
    batch duration s) for every micro-batch progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchTap(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batches.append((start.timestamp(), p.batchDuration / 1000))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchTap()
