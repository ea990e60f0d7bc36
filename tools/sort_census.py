"""Final-sort census: walk every registered query's EXECUTED plan and
report the ones whose TOP of plan is a global Sort (an ``Exchange
rangepartitioning`` + ``Sort [global]`` pair) — the r15 §2.4 finding
(a trailing orderBy used only to make output deterministic) applied
registry-wide. The driver's gate hashes order-insensitively, so a
final presentational sort buys nothing and costs a full result-set
range exchange — at 100 TB, a shuffle of the entire output.

A final sort is NOT presentational when it feeds a limit (top-N) or
when ordering is part of the query's declared surface (document those
in the query's docstring); this tool only reports, the builder
judges.

    python tools/sort_census.py                      # sf0.001, all queries
    python tools/sort_census.py --sf-dir DIR name...
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# formatted-mode plans print the exchange as "(N) Exchange" with a
# separate "Arguments: rangepartitioning(...)" detail line — match the
# partitioning itself, not the adjacent-words simple-mode rendering
_RANGE_RE = re.compile(r"rangepartitioning\(")
_TAKE_RE = re.compile(r"TakeOrderedAndProject|CollectLimit|GlobalLimit")


def main() -> None:
    argv = sys.argv[1:]
    sf = os.path.join("/root/testdata", "sf0.001")
    if "--sf-dir" in argv:
        i = argv.index("--sf-dir")
        sf = argv[i + 1]
        del argv[i:i + 2]
    os.environ["SPARK_GRAFT_SF_DIR"] = sf

    from financial_data_warehouse_automation_spark.measure import formatted_plan
    from financial_data_warehouse_automation_spark.registry import (
        REGISTRY,
        load_all,
    )
    from financial_data_warehouse_automation_spark.session import get_spark

    spark = get_spark("sort-census")
    load_all()
    names = argv or list(REGISTRY)
    flagged, clean, errs = [], 0, []
    for n in names:
        try:
            plan = formatted_plan(REGISTRY[n].builder(spark, sf))
        except Exception as exc:  # noqa: BLE001 - census must not abort
            errs.append((n, repr(exc)[:120]))
            continue
        # the physical-plan tree is printed first; a FINAL sort shows as
        # a Sort at depth 0/1 above everything. Flag any plan containing
        # a range exchange, then let the builder inspect; top-N plans
        # (TakeOrderedAndProject) are not range exchanges and don't flag.
        n_range = len(_RANGE_RE.findall(plan))
        if n_range:
            topn = bool(_TAKE_RE.search(plan))
            flagged.append((n, n_range, topn))
        else:
            clean += 1
    for n, k, topn in sorted(flagged):
        print(f"RANGE_EXCHANGE x{k}  {n}{'  (has limit)' if topn else ''}")
    for n, e in errs:
        print(f"ERR {n}: {e}")
    print(f"\n{len(flagged)} flagged, {clean} clean, {len(errs)} errors "
          f"of {len(names)}")


if __name__ == "__main__":
    main()
