"""Plan-shape survey over the whole registry — planning only, no execution.

Usage: python tools/plan_survey.py [sf_dir] > /tmp/plan_survey.tsv

For every registered key, prints one TSV row of plan-shape counters from
``explain('formatted')``: exchanges, broadcast exchanges, joins by
strategy, parquet scans, window nodes, Python-eval nodes, cartesian
products. The round-13 optimization triage runs off this: keys whose
shape already matches the 100 TB discipline (0-2 exchanges, broadcast
dims, no Python nodes, no cartesians) need no per-key work; outliers get
read and, where a cheaper equivalent plan exists, rewritten.

Streaming keys and keys that execute work at build time (manifest/commit
-log substrates) still only PLAN here — building their query may write
fixture scratch (that is their contract), but nothing is executed by the
survey itself beyond what the key's builder does.
"""

from __future__ import annotations

import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    import dbsuite_spark

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("plan-survey")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    specs = dbsuite_spark.all_specs()
    cols = [
        "key", "plan_s", "exch", "bcast", "smj", "shj", "bhj", "bnlj",
        "cart", "scans", "window", "pyeval", "nodes",
    ]
    print("\t".join(cols))
    for key, spec in specs.items():
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:
            print(f"{key}\tERR:{type(exc).__name__}")
            continue
        dt = time.perf_counter() - t0

        def n(name: str) -> int:
            return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))

        print(
            "\t".join(
                str(x)
                for x in (
                    key,
                    round(dt, 2),
                    n("Exchange"),
                    n("BroadcastExchange"),
                    n("SortMergeJoin"),
                    n("ShuffledHashJoin"),
                    n("BroadcastHashJoin"),
                    n("BroadcastNestedLoopJoin"),
                    n("CartesianProduct"),
                    n("Scan parquet"),
                    n("Window"),
                    n("BatchEvalPython") + n("ArrowEvalPython")
                    + n("MapInArrow") + n("MapInPandas")
                    + n("FlatMapGroupsInPandas"),
                    len(re.findall(r"^\(\d+\) ", plan, re.M)),
                )
            ),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
