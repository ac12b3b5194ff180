"""Simulate the driver's verify gates against __spark_entry__.py.

Usage: python tools/driver_sim.py [sf_dir] [--only PREFIX[,PREFIX...]]

Runs, exactly as the driver would (vanilla SparkSession, no project
session factory):
 - t1 smoke: entry(spark) at sf0.001, assert rows > 0
 - t2 correctness: every queries()[k] at sf_dir (default sf0.01) vs
   oracle_sql()[k] in DuckDB — column names, row count, order-insensitive
   value multiset; weak keys get a rows-only check.
Prints one PASS/FAIL line per key and a final summary; exit 1 on any FAIL.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod
from dbsuite_spark.tables import TABLES
from tests.compare import duckdb_rows, spark_rows

# The oracle connection shares the host with the Spark JVM. Uncapped,
# DuckDB allows itself about 80% of RAM, and at sf0.1 the quadratic
# graph_two_hop_neighbors oracle took a 15 GB, 4-core host to about
# 12 GB used until the sim was SIGKILLed. Capped, DuckDB spills to a
# temp dir instead, or fails that one key cleanly.
DUCKDB_MEMORY_LIMIT = "3GB"


def main() -> int:
    argv = sys.argv[1:]
    only: list[str] = []
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            print("usage: driver_sim.py [sf_dir] [--only PREFIX[,PREFIX]]")
            return 2
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    # Rotation staleness gate (VERDICT r06 ask #1): a full certification
    # run with a stale _order.py would let the next driver round re-burn
    # its budget on already-green keys. Fail loudly up front; --only runs
    # are exempt (they're targeted debugging, not certification).
    if not only:
        import tools.rotate_order as _rot

        _files = _rot._default_files()
        if _files and _rot.check_front(_files) != 0:
            print(
                "ABORT: stale rotation — run "
                "`python tools/rotate_order.py --write CORRECTNESS_r*.json` "
                "before certifying (or use --only for targeted runs)"
            )
            return 3

    def build_session() -> SparkSession:
        builder = (
            SparkSession.builder.master("local[32]")
            .appName("driver-sim")
            .config("spark.ui.enabled", "false")
        )
        # Vanilla (driver-faithful) by default. DRIVER_SIM_MEM widens the
        # heap for 10x-scale (sf0.1) re-verification runs: a 1 GB single
        # JVM is NOT the memory envelope of a real executor, and the
        # dense-regime keys (see pipeline/graph.py two-hop notes) need
        # realistic headroom there.
        mem = os.environ.get("DRIVER_SIM_MEM")
        if mem:
            builder = builder.config("spark.driver.memory", mem)
        return builder.getOrCreate()

    def rebuild_dead_session() -> SparkSession:
        """After a JVM death (OOM kill), getOrCreate() would hand back the
        corpse; clear the gateway singletons so a fresh JVM launches and
        the remaining keys still get real verdicts."""
        from pyspark import SparkContext

        try:
            SparkSession.getActiveSession().stop()
        except Exception:
            pass
        # Best-effort: shut the old py4j gateway down so the dead JVM's
        # gateway thread/process doesn't leak alongside the new one
        # (ADVICE r04).
        try:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
        except Exception:
            pass
        # These are private PySpark internals and can move between
        # versions — degrade to a clear error instead of an
        # AttributeError mid-run.
        try:
            SparkContext._active_spark_context = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
        except AttributeError as e:  # pragma: no cover - PySpark upgrade
            raise RuntimeError(
                "driver_sim JVM-relaunch hack no longer matches this "
                "PySpark's internals — update rebuild_dead_session()"
            ) from e
        return build_session()

    spark = build_session()

    # t1 smoke
    rows = entry_mod.entry(spark).collect()
    print(f"t1 smoke: entry() -> {len(rows)} rows "
          f"({'PASS' if len(rows) > 0 else 'FAIL'})")

    spill = tempfile.TemporaryDirectory(prefix="driver-sim-")
    con = duckdb.connect(
        config={
            "memory_limit": DUCKDB_MEMORY_LIMIT,
            "temp_directory": os.path.join(spill.name, "duckdb"),
        }
    )
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items()
              if any(k.startswith(p) for p in only)}
    n_pass = n_fail = 0
    # Registration order, NOT sorted: the round driver walks keys in dict
    # order under a budget, so this order is part of what we simulate.
    for key in qs:
        start = time.perf_counter()
        try:
            df = qs[key](spark, sf_dir)
            if key in oracles:
                s_cols, s_rows = spark_rows(df)
                d_cols, d_rows = duckdb_rows(con, oracles[key])
                ok = s_cols == d_cols and sorted(s_rows) == sorted(d_rows)
                mode = "sql"
                detail = f"{len(s_rows)} rows"
                if not ok:
                    if s_cols != d_cols:
                        detail = f"cols {s_cols} != {d_cols}"
                    elif len(s_rows) != len(d_rows):
                        detail = f"rows {len(s_rows)} != {len(d_rows)}"
                    else:
                        diff = next(
                            (a, b)
                            for a, b in zip(sorted(s_rows), sorted(d_rows))
                            if a != b
                        )
                        detail = f"value diff {diff}"
            else:
                n = df.count()
                ok, mode, detail = n >= 0, "weak", f"{n} rows"
        except Exception as exc:  # driver records failures per-key
            ok, mode, detail = False, "err", f"{type(exc).__name__}: {exc}"
            # A JVM death (e.g. executor OOM in local mode) would cascade
            # ConnectionRefused onto every later key; relaunch so each key
            # gets its own verdict. The failing key stays FAIL.
            try:
                spark.sql("SELECT 1").collect()
            except Exception:
                print(f"JVM dead after {key}; relaunching session")
                spark = rebuild_dead_session()
        dt = time.perf_counter() - start
        n_pass += ok
        n_fail += not ok
        print(f"{'PASS' if ok else 'FAIL'} [{mode}] {key} ({dt:.2f}s) {detail}")

    print(f"summary: {n_pass} pass, {n_fail} fail, "
          f"{len(qs)} keys ({len(oracles)} with SQL oracle)")
    spark.stop()
    con.close()
    spill.cleanup()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
