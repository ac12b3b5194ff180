"""Driver-certification burn-down report (VERDICT r07 ask #8).

Prints, from the registry and all CORRECTNESS_r*.json driver artifacts:

  - per-category counts of driver-certified (hash-green in any round,
    latest state wins) vs registered keys,
  - the full list of keys that have NEVER had a real driver row —
    the burn-down list that tools/rotate_order.py's PRIORITY should
    front each round.

Usage:
    python tools/coverage_report.py            # human report
    python tools/coverage_report.py --list     # bare never-driven key list
    python tools/coverage_report.py --summary  # one-line markdown block
                                               # for the BASELINE.md
                                               # certification record
                                               # (VERDICT r08 ask #8)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from collections import Counter

from rotate_order import _default_files, classify  # noqa: E402


def _category(key: str) -> str:
    """Coarse key family from the prefix — mirrors the SURVEY §2/§M
    category naming closely enough for a burn-down dashboard."""
    for prefix in (
        "scan", "sink", "catalog", "project", "filter", "distinct", "case",
        "cast", "scalar", "join", "agg", "pivot", "unpivot", "sql", "win",
        "sort", "limit", "topk", "sample", "set", "fn", "stream", "udf",
        "udaf", "udtf", "udx", "etl", "dedup", "sim", "knn", "text",
        "multimodal", "docs", "ts", "ml", "events", "graph", "rec", "er",
        "geo", "tpch", "ssb",
    ):
        if key == prefix or key.startswith(prefix + "_"):
            return prefix
    return "other"


def main() -> int:
    import dbsuite_spark

    registered = list(dbsuite_spark.queries())
    files = _default_files()
    failed, weak, green, seen, _last_green = classify(files)
    green_set = set(green) & set(registered)
    never = [k for k in registered if k not in set(seen)]

    if "--list" in sys.argv[1:]:
        for k in never:
            print(k)
        return 0

    if "--summary" in sys.argv[1:]:
        worst = Counter(_category(k) for k in never)
        lag = ", ".join(
            f"{c} {n}" for c, n in worst.most_common(5)
        ) or "none"
        print(
            f"| Driver-certification burn-down | registry {len(registered)} keys; "
            f"driver-certified green {len(green_set)} "
            f"({100 * len(green_set) / len(registered):.0f}%), "
            f"failed-latest {len(set(failed) & set(registered))}, "
            f"never-driven {len(never)} "
            f"(largest gaps: {lag}) | "
            f"{len(files)} driver rounds | `tools/coverage_report.py --summary` |"
        )
        return 0

    reg_by_cat = Counter(_category(k) for k in registered)
    green_by_cat = Counter(_category(k) for k in green_set)
    print(f"registry: {len(registered)} keys; driver artifacts: {len(files)} rounds")
    print(
        f"driver-certified green: {len(green_set)}  "
        f"failed-latest: {len(set(failed) & set(registered))}  "
        f"weak-latest: {len(set(weak) & set(registered))}  "
        f"never-driven: {len(never)}"
    )
    print()
    print(f"{'category':<12} {'green':>6} {'total':>6} {'pct':>6}")
    for cat in sorted(reg_by_cat, key=lambda c: (green_by_cat[c] / reg_by_cat[c], c)):
        g, t = green_by_cat[cat], reg_by_cat[cat]
        print(f"{cat:<12} {g:>6} {t:>6} {100 * g / t:>5.0f}%")
    if never:
        print()
        print(f"never-driven ({len(never)}):")
        for k in never:
            print(f"  {k}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
