"""Summarize a driver_sim output by category — driver-budget tuning aid.

Usage:
    python tools/driver_sim.py 2>/dev/null | tee /tmp/sim.out
    python tools/budget_report.py /tmp/sim.out

The round driver verifies keys in registration order under a per-round
budget; this report shows where that budget goes (per-category key
counts, total/mean/max seconds, slowest keys), so the rotation in
``dbsuite_spark/_order.py`` can put cheap unverified categories ahead of
expensive ones.
"""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LINE = re.compile(
    r"^(PASS|FAIL) \[(\w+)\] (\S+) \(([0-9.]+)s\)"
)


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__)
        return 2

    import dbsuite_spark

    cat_of = {n: s.category for n, s in dbsuite_spark.all_specs().items()}
    rows = []
    for raw in open(sys.argv[1]):
        m = LINE.match(raw)
        if m:
            status, _mode, key, sec = m.groups()
            rows.append((key, cat_of.get(key, "?"), float(sec), status))

    by_cat: dict[str, list[tuple[str, float]]] = defaultdict(list)
    for key, cat, sec, _status in rows:
        by_cat[cat].append((key, sec))

    total = sum(sec for _, _, sec, _ in rows)
    print(f"{len(rows)} keys, {total:.1f}s total\n")
    print(f"{'cat':>4} {'keys':>5} {'total_s':>8} {'mean_s':>7} "
          f"{'max_s':>7}  slowest")
    for cat in sorted(by_cat, key=lambda c: -sum(s for _, s in by_cat[c])):
        entries = by_cat[cat]
        secs = [s for _, s in entries]
        worst = max(entries, key=lambda e: e[1])
        print(
            f"{cat:>4} {len(entries):>5} {sum(secs):>8.1f} "
            f"{sum(secs) / len(secs):>7.2f} {max(secs):>7.2f}  "
            f"{worst[0]}"
        )
    fails = [(k, s) for k, _c, s, st in rows if st == "FAIL"]
    if fails:
        print("\nFAILED:", ", ".join(k for k, _ in fails))
    return 0


if __name__ == "__main__":
    sys.exit(main())
