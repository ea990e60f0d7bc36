"""Command-line front door: list and run registered queries.

    python -m financial_data_warehouse_automation_spark.cli list [--tag TAG]
    python -m financial_data_warehouse_automation_spark.cli run QUERY [--sf-dir DIR] [-n N]
    python -m financial_data_warehouse_automation_spark.cli explain QUERY [--sf-dir DIR]
    python -m financial_data_warehouse_automation_spark.cli profile [QUERY ...] [--reps N]

The reference's two entry points (run the monthly build / open the
sheet) map onto ``run ingest_warehouse_build`` and any analytical query
by name; ``explain`` prints the formatted physical plan for plan
review. ``profile`` (at ``$SPARK_GRAFT_SF_DIR``; default: the headline
basket) runs one untimed warm pass, prints the two calibration probes
as one JSON line, then one ``measure.record`` JSON line per query, the
fastest of ``--reps`` runs.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="financial_data_warehouse_automation_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--tag", help="filter by tag")

    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default=None)
        if name == "run":
            sp.add_argument("-n", type=int, default=20, help="rows to show")

    p_prof = sub.add_parser("profile", help="layer split of each query")
    p_prof.add_argument("queries", nargs="*")
    p_prof.add_argument("--reps", type=int, default=3)

    args = p.parse_args(argv)
    if args.cmd == "profile" and args.reps < 1:
        p.error("--reps must be at least 1")

    from financial_data_warehouse_automation_spark.registry import load_all

    specs = load_all()

    if args.cmd == "list":
        for name, spec in sorted(specs.items()):
            if args.tag and args.tag not in spec.tags:
                continue
            mark = "*" if spec.headline else " "
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{mark} {name:38s} [{oracle}] {', '.join(spec.tags)}")
        return 0

    names = args.queries if args.cmd == "profile" else [args.query]
    for name in names:
        if name not in specs:
            print(f"unknown query {name!r}; try 'list'", file=sys.stderr)
            return 2

    from financial_data_warehouse_automation_spark.session import get_spark, sf_dir as default_sf

    spark = get_spark("cli")
    if args.cmd == "profile":
        return _profile(spark, specs, names or [n for n, s in specs.items() if s.headline],
                        default_sf(), args.reps)
    d = args.sf_dir or default_sf()
    df = specs[args.query].builder(spark, d)
    if args.cmd == "explain":
        df.explain("formatted")
    else:
        df.show(args.n, truncate=False)
    return 0


def _profile(spark, specs, names: list[str], d: str, reps: int) -> int:
    from financial_data_warehouse_automation_spark import measure

    for name in names:  # untimed sweep: C2-warm JVM, as in bench.py
        specs[name].builder(spark, d).collect()
    cpu, scan = measure.probes(spark, d)
    print(json.dumps({"calib_spark_sec": round(cpu, 4),
                      "calib_scan_sec": round(scan, 4), "sf_dir": d}), flush=True)
    for name in names:
        runs = [measure.record(spark, name, lambda: specs[name].builder(spark, d))
                for _ in range(reps)]
        print(json.dumps(min(runs, key=lambda r: r["wall_s"])), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
