"""Duplicate-scan census: walk every registered query's EXECUTED plan
and count FileScans per table — the detector behind round 7's wave-3
fixes (PERF.md).

A query scanning one table >= 3x is either re-evaluating an expensive
shared derivation (fix: ``lineage.cut`` at the point of sharing) or
legitimately multi-pass over a cheap pruned scan (leave it: at scale,
re-reading parquet columns beats caching a fact table). The judgment
call is whether the re-run work between scan and share-point is a
scan (cheap) or a tokenize/hash/aggregate chain (cut it).

    python tools/scan_census.py              # production plans (cuts active)
    python tools/scan_census.py --audit      # cuts disabled: raw multiplicity
    python tools/scan_census.py --min 2      # report >= 2 scans of one table

Production mode is what executes; audit mode shows what each cut is
saving (e.g. customer_rfm_segments: 1 orders scan in production, 65 in
audit — the chained-rank re-evaluation the cut removes).
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_SCAN_RE = re.compile(
    r"FileScan parquet \[[^\]]*\][^/]*file:[^,\]]*/(\w+)\.parquet"
)


def main() -> None:
    argv = sys.argv[1:]
    min_scans = 3
    sf = os.path.join("/root/testdata", "sf0.001")
    if "--audit" in argv:
        os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"
        argv.remove("--audit")
    if "--min" in argv:
        i = argv.index("--min")
        min_scans = int(argv[i + 1])
        del argv[i:i + 2]
    if "--sf-dir" in argv:
        i = argv.index("--sf-dir")
        sf = argv[i + 1]
        del argv[i:i + 2]

    from financial_data_warehouse_automation_spark.registry import load_all
    from financial_data_warehouse_automation_spark.session import get_spark

    spark = get_spark("scan-census")
    rows = []
    n_ok = 0
    for name, spec in load_all().items():
        try:
            plan = spec.builder(spark, sf)._jdf.queryExecution(
            ).executedPlan().toString()
        except Exception:
            continue  # streaming-only / fixture-path builders
        n_ok += 1
        counts = Counter(_SCAN_RE.findall(plan))
        worst = {t: k for t, k in counts.items() if k >= min_scans}
        if worst:
            rows.append((max(worst.values()), name, dict(counts)))
    # label from the same predicate the cuts use
    from financial_data_warehouse_automation_spark.lineage import plan_audit_mode
    mode = "audit" if plan_audit_mode() else "production"
    print(f"# {n_ok} plans built ({mode} mode); "
          f"{len(rows)} queries scan one table >= {min_scans}x")
    for mx, name, counts in sorted(rows, reverse=True):
        detail = ", ".join(f"{t}:{k}" for t, k in sorted(
            counts.items(), key=lambda x: -x[1]))
        print(f"{mx:3d}  {name}  ({detail})")


if __name__ == "__main__":
    main()
