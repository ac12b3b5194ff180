"""Isolated per-key timing: N cold runs per key, min/median printed.

Usage:
    python tools/measure_keys.py key1 key2 ... [--n 5] [--plans DIR SUFFIX]

Short runs stay inside the host's clean burst window (BASELINE.md round-13
CPU-steal finding), so isolated timings here are far less noisy than a full
bench sweep. Every run is cold (session memo cache cleared) exactly like
bench.py's timed runs. With --plans, also writes each key's
``explain('formatted')`` to DIR/<key>_<SUFFIX>.txt — the round-13
optimization evidence files.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = sys.argv[1:]
    n = 5
    plans_dir = None
    suffix = "before"
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        suffix = args[i + 2]
        del args[i : i + 3]
    keys = args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import dbsuite_spark
    from dbsuite_spark.session import get_spark
    from dbsuite_spark.tables import clear_session_cache

    spark = get_spark(app_name="measure-keys")
    specs = dbsuite_spark.all_specs()

    # Warm JVM/codegen once, untimed.
    spark.range(0, 1_000_000, 1, 32).selectExpr("sum(id)").write.format(
        "noop"
    ).mode("overwrite").save()

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for key in keys:
        if key not in specs:
            print(f"{key}: NOT REGISTERED", flush=True)
            continue
        fn = specs[key].fn
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(plans_dir, f"{key}_{suffix}.txt"), "w") as f:
                f.write(plan)
            clear_session_cache(spark)
        times = []
        for _ in range(n):
            clear_session_cache(spark)
            spark.sparkContext.setJobDescription(f"measure:{key}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{key}: min={min(times):.3f} med={statistics.median(times):.3f} "
            f"runs={[round(t, 3) for t in times]}",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
