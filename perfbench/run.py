"""Repository benchmark: run one workload of registry keys as a closed loop.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap --seed 1 --seconds 25 --trace 0

One run:
1. generates the fixture tables from ``--seed`` under ``.perfbench/``;
2. starts one ``local[nproc]`` session through ``dbsuite_spark.session``;
3. set-up: runs one untimed pass that also checks every key against its
   DuckDB oracle with the comparators of ``tests/compare.py``;
4. runs the workload's fixed number of timed cold passes (session memo
   cleared before every key; key order shuffled per pass, the same in
   every run);
5. prints host context, then one JSON result line: end-to-end metrics
   with ``--trace 0``, per-layer metrics with ``--trace 1``.

The traced run turns on Spark's event log and times each key's build,
plan and execute steps; see ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
INPUT_NAME = "perfbench_in"  # artifact dirs and bucketed tables key on it
SF, DOCS, VECS = 0.01, 500, 500
DRIVER_MEM = "2g"
# The ``--seconds`` value at which a run makes ``Workload.passes`` timed
# passes.
REF_SECONDS = 25
# JVM flags that keep the JVM's own background work out of the timed
# passes (see "The JVM's settings" in METRICS.md):
# - C1 compiler only. With C2 as well, compiler threads took half the
#   JVM's CPU time at this input scale and a second untimed pass was
#   needed before pass times settled. The keys' time is per-job fixed
#   cost, not hot per-row loops, so passes ran about as fast as with C2.
# - No code-cache flushing. About a minute after start the sweeper flushed
#   compiled code that C1 then compiled again, a burst of several CPU
#   seconds in whichever pass was running.
# - The parallel collector and a fixed heap. With G1, a late pass of a run
#   often used 50-80% more CPU than the others.
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing"
    f" -XX:+UseParallelGC -Xms{DRIVER_MEM}"
)
# Keeps a JVM from writing its counters file under the system temp dir,
# outside the checkout; set on both the launcher and the driver JVM.
NO_PERF_DATA = "-XX:-UsePerfData"

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import duckdb  # noqa: E402
import probes  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_env(nproc: int, traced: bool) -> None:
    """Keep every file Spark writes inside the work dir; set before launch."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        SPARK_LAUNCHER_OPTS=NO_PERF_DATA,
        TMPDIR=tmp,
    )
    confs = {"spark.ui.showConsoleProgress": "false"}
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS} {NO_PERF_DATA}"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def order(keys: list[str], pass_no: int) -> list[str]:
    """The keys in the order of pass ``pass_no``: shuffled per pass, the
    same in every run, so that runs of different seeds differ only in
    their input data."""
    out = list(keys)
    random.Random(pass_no).shuffle(out)
    return out


class Collected:
    """A collected frame that ``tests.compare.spark_rows`` can read, so the
    rows are canonicalised outside the timed step."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


class Bench:
    def __init__(self, spark, keys: list[str], in_dir: str, traced: bool) -> None:
        import dbsuite_spark
        from dbsuite_spark.tables import clear_session_cache

        self.spark = spark
        self.specs = {k: dbsuite_spark.all_specs()[k] for k in keys}
        self.clear = clear_session_cache
        self.in_dir = in_dir
        self.traced = traced
        self.windows = tracing.Windows()
        # (pass, key) -> step timings and tap counts of the traced run.
        self.records: dict[tuple[int, str], dict] = {}
        self.tap = tracing.TablesTap() if traced else None
        self.batches = tracing.batch_tap() if traced else None
        if traced:
            self.tap.install()
            spark.streams.addListener(self.batches)

    def _step(self, pass_no: int, key: str, phase: str, fn):
        step = (pass_no, key, phase)
        if self.traced:
            self.spark.sparkContext.setJobGroup(tracing.group_id(step), key)
        start = time.time()
        t = time.perf_counter()
        out = fn()
        elapsed = time.perf_counter() - t
        self.windows.add(step, start, time.time())
        return out, elapsed

    def check(self, pass_no: int, key: str, con) -> tuple[bool, float]:
        """Run ``key`` once, collect it and compare it with its oracle.

        Returns (ok, seconds to clear the memo, build and collect); the
        oracle query and the comparison are not counted."""
        from tests.compare import duckdb_rows, spark_rows

        spec = self.specs[key]
        t = time.perf_counter()
        self.clear(self.spark)
        result, _ = self._step(
            pass_no, key, "check", lambda: Collected(spec.fn(self.spark, self.in_dir))
        )
        key_s = time.perf_counter() - t
        cols, rows = spark_rows(result)
        if spec.oracle is None:  # rows-only key, as the contract driver does
            return True, key_s
        d_cols, d_rows = duckdb_rows(con, spec.oracle)
        return cols == d_cols and sorted(rows) == sorted(d_rows), key_s

    def run(self, pass_no: int, key: str) -> float:
        """One cold execution of ``key``; returns its latency, which leaves
        out the memo clearing before it."""
        spec = self.specs[key]
        t0 = time.perf_counter()
        self.clear(self.spark)
        clear_s = time.perf_counter() - t0
        if self.tap:
            self.tap.take()
        df, build_s = self._step(pass_no, key, "build", lambda: spec.fn(self.spark, self.in_dir))
        rec = {"build_s": build_s, "clear_s": clear_s, "plan_s": 0.0}
        if self.traced:
            plan, rec["plan_s"] = self._step(
                pass_no,
                key,
                "plan",
                lambda: df._jdf.queryExecution().executedPlan().toString(),
            )
            rec["exchanges"], rec["python_eval_nodes"] = tracing.plan_counts(plan)
        _, rec["exec_s"] = self._step(
            pass_no,
            key,
            "exec",
            lambda: df.write.format("noop").mode("overwrite").save(),
        )
        if self.tap:
            rec["tables"] = self.tap.take()
        rec["wall_s"] = time.perf_counter() - t0
        self.records[(pass_no, key)] = rec
        return rec["build_s"] + rec["plan_s"] + rec["exec_s"]


def settle(spark) -> None:
    """Collect garbage in the Python driver and the JVM, outside timing, so
    every timed pass starts from the same heap state instead of paying a
    collection cycle that earlier passes left due."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_pass(bench: Bench, pass_no: int, keys: list[str]) -> list[float]:
    """Run ``keys`` in order; returns the latencies of those that did not
    raise."""
    latencies = []
    for key in keys:
        try:
            latencies.append(bench.run(pass_no, key))
        except Exception as exc:
            print(f"perfbench: {key} raised {exc!r}"[:500], file=sys.stderr)
    return latencies


def calibrate(spark, nproc: int) -> dict:
    """Host probes sized to this machine: a single-thread hash chain and an
    ``nproc``-way Spark range sum. Context for reading a run, not metrics."""
    t = time.perf_counter()
    h = b"calibrate"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    single = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 4_000_000 * nproc, 1, nproc).selectExpr(
        "sum(id * 3 + 1) AS s"
    ).write.format("noop").mode("overwrite").save()
    return {"cal_single_s": single, "cal_parallel_s": time.perf_counter() - t}


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM's Python workers."""
    from pyspark import SparkContext

    workers = set(probes.tree_pids()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in workers
    ):
        time.sleep(0.05)


def layer_metrics(bench: Bench, passes: list[dict], nproc: int, events) -> tuple[dict, dict]:
    """Per-workload (median over passes) and per-key layer metrics."""
    batch_steps: dict[tuple[int, str], list[float]] = {}
    for start, dur in bench.batches.batches:
        step = bench.windows.find(start * 1000)
        if step is not None:
            batch_steps.setdefault(step[:2], []).append(dur)

    def key_values(pass_no: int, key: str) -> dict:
        rec = bench.records[(pass_no, key)]
        c = {n: 0 for n in tracing.COUNTERS}
        for phase in ("build", "plan", "exec"):
            c.update({n: c[n] + v for n, v in events.get((pass_no, key, phase), {}).items()})
        build_jobs = events.get((pass_no, key, "build"), {}).get("jobs", 0)
        tabs = rec["tables"]
        batches = batch_steps.get((pass_no, key), [])
        return {
            "registry.build_s": rec["build_s"],
            "registry.build_jobs": build_jobs,
            "plan.plan_s": rec["plan_s"],
            "plan.exchanges": rec["exchanges"],
            "plan.python_eval_nodes": rec["python_eval_nodes"],
            "spark.exec_s": rec["exec_s"],
            "spark.jobs": c["jobs"],
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.task_wait_s": c["task_wait_ms"] / 1000,
            "spark.executor_cpu_s": c["executor_cpu_ns"] / 1e9,
            "spark.executor_run_s": c["executor_run_ms"] / 1000,
            "spark.cpu_util": c["executor_cpu_ns"] / 1e9 / (rec["wall_s"] * nproc),
            "spark.gc_s": c["gc_ms"] / 1000,
            "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
            "spark.spill_bytes": c["spill_bytes"],
            "spark.failed_tasks": c["failed_tasks"],
            "tables.t.calls": tabs["t.calls"],
            "tables.fan_out.calls": tabs["fan_out.calls"],
            "tables.fan_out.taken": tabs["fan_out.taken"],
            "tables.memo.calls": tabs["memo.calls"],
            "tables.memo.hits": tabs["memo.hits"],
            "tables.clear_cache_s": rec["clear_s"],
            "etl.output_bytes": c["output_bytes"],
            "etl.output_records": c["output_records"],
            "streaming.batches": len(batches),
            "streaming.batch_s": sum(batches),
        }

    def ratios(v: dict) -> dict:
        out = {k: x for k, x in v.items() if k not in ("tables.fan_out.taken", "tables.memo.hits")}
        out["tables.fan_out.taken_ratio"] = (
            v["tables.fan_out.taken"] / v["tables.fan_out.calls"] if v["tables.fan_out.calls"] else 0.0
        )
        out["tables.memo.hit_ratio"] = (
            v["tables.memo.hits"] / v["tables.memo.calls"] if v["tables.memo.calls"] else 0.0
        )
        return out

    per_pass, per_key = [], {}
    for p in passes:
        keys = {k: key_values(p["pass"], k) for k in p["keys"]}
        total = {n: sum(v[n] for v in keys.values()) for n in next(iter(keys.values()))}
        total["spark.cpu_util"] = total["spark.executor_cpu_s"] / (p["pass_s"] * nproc)
        total = ratios(total)
        total.update(
            {
                "traced.pass_s": p["pass_s"],
                "etl.live_files": p["live_files"],
                "etl.live_bytes": p["live_bytes"],
            }
        )
        per_pass.append(total)
        for k, v in keys.items():
            per_key.setdefault(k, []).append(ratios(v))
    med = {n: statistics.median(t[n] for t in per_pass) for n in per_pass[0]}
    keyed = {
        k: {n: statistics.median(v[n] for v in vs) for n in vs[0]} for k, vs in per_key.items()
    }
    return med, keyed


def main() -> int:
    args = parse_args()
    if not (
        os.path.isfile(os.path.join(ROOT, "dbsuite_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "compare.py"))
    ):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload]
    keys = list(workload.keys)
    timed_passes = max(1, round(workload.passes * args.seconds / REF_SECONDS))
    traced = bool(args.trace)

    shutil.rmtree(WORK, ignore_errors=True)
    in_dir = os.path.join(WORK, INPUT_NAME)
    artifacts = os.path.join(ROOT, ".artifacts", INPUT_NAME)
    shutil.rmtree(artifacts, ignore_errors=True)
    t = time.perf_counter()
    datagen.generate(in_dir, args.seed, SF, DOCS, VECS)
    datagen_s = time.perf_counter() - t
    configure_env(nproc, traced)
    con = duckdb.connect()
    for file in sorted(os.listdir(in_dir)):
        name = file.removesuffix(".parquet")
        path = os.path.join(in_dir, file)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    host0 = probes.cpu_counters()

    # Set-up, as setup_s counts it: engine import and session start, then
    # one untimed pass that warms the JVM and writes the artifacts. The
    # pass checks every key; its oracle queries and row comparison are the
    # benchmark's own work and are not counted.
    t = time.perf_counter()
    from dbsuite_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        bench = Bench(spark, keys, in_dir, traced)
        attempted = failed = 0
        check_pass_s = 0.0
        for key in order(keys, -1):
            attempted += 1
            try:
                ok, key_s = bench.check(-1, key, con)
                check_pass_s += key_s
            except Exception as exc:
                ok = False
                print(f"perfbench: {key} raised {exc!r}"[:500], file=sys.stderr)
            if not ok:
                failed += 1
                print(f"perfbench: {key} does not match its oracle", file=sys.stderr)
        con.close()
        setup_s = session_start_s + check_pass_s
        # The artifact file count after set-up; every timed pass must leave
        # the same count.
        file_counts = {dir_usage(artifacts)[0]}

        latencies: list[float] = []
        passes: list[dict] = []
        for pass_no in range(timed_passes):
            pass_keys = order(keys, pass_no)
            settle(spark)
            cpu0 = probes.tree_cpu_s()
            t = time.perf_counter()
            done = run_pass(bench, pass_no, pass_keys)
            pass_s = time.perf_counter() - t
            cpu_s = probes.tree_cpu_s() - cpu0
            attempted += len(pass_keys)
            failed += len(pass_keys) - len(done)
            latencies.extend(done)
            live_files, live_bytes = dir_usage(artifacts)
            passes.append(
                {
                    "pass": pass_no,
                    "keys": [k for k in pass_keys if (pass_no, k) in bench.records],
                    "pass_s": pass_s,
                    "cpu_s": cpu_s,
                    "live_files": live_files,
                    "live_bytes": live_bytes,
                }
            )

        context = calibrate(spark, nproc)
        context["peak_rss_mb"] = probes.tree_peak_rss_mb()
    finally:
        stop_spark(spark)
    context.update(
        nproc=nproc,
        steal_frac=probes.steal_frac(host0, probes.cpu_counters()),
        session_start_s=session_start_s,
        datagen_s=datagen_s,
        check_pass_s=check_pass_s,
        samples=len(latencies),
        pass_s=[p["pass_s"] for p in passes],
        pass_cpu_s=[p["cpu_s"] for p in passes],
        key_s={
            k: [bench.records[(p["pass"], k)]["wall_s"] for p in passes if k in p["keys"]]
            for k in keys
        },
    )

    correct = failed == 0
    file_counts.update(p["live_files"] for p in passes)
    if len(file_counts) > 1:
        correct = False
        print(
            f"perfbench: artifact file count drifts across passes: {sorted(file_counts)}",
            file=sys.stderr,
        )

    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        (log_name,) = os.listdir(log_dir)
        with open(os.path.join(log_dir, log_name)) as f:
            events = tracing.parse_event_log(f, bench.windows)
        metrics, per_key = layer_metrics(bench, passes, nproc, events)
        metrics["session.start_s"] = session_start_s
        print(json.dumps({"per_key": per_key}))
    else:
        p50, p90 = statistics.quantiles(latencies, n=10, method="inclusive")[4:9:4]
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["pass_s"] for p in passes),
            "query_p50_s": p50,
            "query_p90_s": p90,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        }
    print(json.dumps({"context": context}))
    shutil.rmtree(WORK, ignore_errors=True)
    shutil.rmtree(artifacts, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": v, "unit": tracing.unit_of(n)} for n, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
