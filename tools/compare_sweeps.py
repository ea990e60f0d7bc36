"""Compare two scale_sweep TSVs — the analysis PERF.md's scaling and
regression sections are built from, as a tool instead of an ad-hoc
snippet re-written every round.

Two modes, selected by what you pass:

  SCALE mode (two different scale factors, e.g. sf0.1 vs sf1):
    python tools/compare_sweeps.py artifacts/sweep_sf01_r10.tsv \
        artifacts/sweep_sf1_r10.tsv
    → the 10x ratio table: median / worst ratios (bases >= --min-base,
      default 0.15 s), the top offenders, and every query whose ratio
      exceeds --flag-ratio (default 8.0 — r9/r10 worst honest ratios
      were 8.1x/7.4x, both output-row growth; anything above that
      band deserves a plan audit).

  REGRESSION mode (same scale factor, different rounds; add --same-sf):
    python tools/compare_sweeps.py artifacts/sweep_sf01_r9.tsv \
        artifacts/sweep_sf01_r10.tsv --same-sf
    → per-query deltas, flagging > --flag-pct (default 15%) slowdowns
      on bases >= --min-base. READ THE FLAGS WITH PERF.md's round-10
      box findings in mind: this box both excurses (hours of elevated
      load) and DRIFTS (~±20% throughput at idle loadavg), so a
      uniform inflation across untouched plans is weather, not code —
      the discriminating experiment is re-running the OLD code in a
      git worktree in the same window (recheck_sf01_r10_r9code_ab.tsv
      is the template). A LOCALIZED flag on a changed plan is real.

    --calib A B (optional, REGRESSION mode): box-speed normalization —
      A and B are the calib_spark_sec readings taken alongside the
      first and second sweep (bench.py's fixed-workload denominator;
      for a round's driver bench use BENCH_r{N}.json's field, for an
      ad-hoc sweep the probe line of `cli profile` run in the same
      window). Every second-sweep time is scaled by A/B before
      comparison, so a uniform box-speed change between the two
      windows cancels and the flags show code, not weather. The r10
      adjudication (~50-200ms/job drift, consumed judge+builder effort
      two rounds running) is exactly what this retires.

    --calib-scan A B (optional, with --calib): the scan-probe readings
      (bench.py calib_scan_sec) from the same two windows. When both
      probes are given the normalization factor is the GEOMETRIC MEAN
      of the two per-probe ratios, each probe's implied factor is
      printed, and a disagreement above 10% is flagged loudly — that
      is the CPU-probe blind spot (r11: a +20% basket inflation
      arrived with a near-reference CPU reading; the scan probe is
      the witness for storage/scheduler weather).

Rows whose second column is ERR/SKIP are ignored (reported in the
header). Output is stable-sorted for diffing.
"""

from __future__ import annotations

import statistics
import sys


def read_tsv(path: str) -> dict[str, float]:
    out: dict[str, float] = {}
    skipped = 0
    for ln in open(path):
        parts = ln.rstrip("\n").split("\t")
        if len(parts) < 3:
            continue
        if parts[1] in ("ERR", "SKIP"):
            skipped += 1
            continue
        try:
            out[parts[0]] = float(parts[1])
        except ValueError:
            continue
    if skipped:
        print(f"# {path}: {skipped} ERR/SKIP rows ignored")
    return out


def main() -> None:
    argv = [a for a in sys.argv[1:]]
    same_sf = "--same-sf" in argv
    if same_sf:
        argv.remove("--same-sf")
    min_base, flag_ratio, flag_pct = 0.15, 8.0, 15.0
    calib = calib_scan = None
    if "--calib" in argv:
        i = argv.index("--calib")
        calib = (float(argv[i + 1]), float(argv[i + 2]))
        del argv[i:i + 3]
    if "--calib-scan" in argv:
        i = argv.index("--calib-scan")
        calib_scan = (float(argv[i + 1]), float(argv[i + 2]))
        del argv[i:i + 3]
    for name, attr in (("--min-base", "min_base"),
                       ("--flag-ratio", "flag_ratio"),
                       ("--flag-pct", "flag_pct")):
        if name in argv:
            i = argv.index(name)
            val = float(argv[i + 1])
            del argv[i:i + 2]
            if attr == "min_base":
                min_base = val
            elif attr == "flag_ratio":
                flag_ratio = val
            else:
                flag_pct = val
    if len(argv) != 2:
        print(__doc__)
        sys.exit(2)
    if (calib or calib_scan) and not same_sf:
        print("# --calib only applies to --same-sf (REGRESSION) mode")
        sys.exit(2)
    if calib_scan and not calib:
        print("# --calib-scan requires --calib (it is the second probe)")
        sys.exit(2)
    a, b = read_tsv(argv[0]), read_tsv(argv[1])
    if calib:
        ca, cb = calib
        factor = ca / cb
        if calib_scan:
            sa, sb = calib_scan
            f_cpu, f_scan = ca / cb, sa / sb
            factor = (f_cpu * f_scan) ** 0.5
            dis = abs(f_cpu / f_scan - 1.0) * 100
            print(f"# calib probes: cpu x{f_cpu:.4f} | scan x{f_scan:.4f}"
                  f" | geometric mean x{factor:.4f}"
                  f" | disagreement {dis:.1f}%")
            if dis > 10:
                print("# WARNING: probes disagree > 10% — one drift "
                      "mode is invisible to one probe (see bench.py); "
                      "prefer fresh same-window previews over either "
                      "calibrated number")
        else:
            print(f"# calib normalization: second sweep x {ca:.4f}/"
                  f"{cb:.4f} = x{factor:.4f} (box-speed change "
                  "cancelled)")
        b = {n: t * factor for n, t in b.items()}
    common = sorted(set(a) & set(b))
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    print(f"# {argv[0]}: n={len(a)} sum={sum(a.values()):.1f}s | "
          f"{argv[1]}: n={len(b)} sum={sum(b.values()):.1f}s | "
          f"common={len(common)}")
    if only_a:
        print(f"# only in first: {', '.join(only_a)}")
    if only_b:
        print(f"# only in second: {', '.join(only_b)}")

    rated = [(b[n] / a[n], n) for n in common if a[n] >= min_base]
    rated.sort(reverse=True)
    if not rated:
        print("# nothing above min-base")
        return
    med = statistics.median(r for r, _ in rated)

    if same_sf:
        print(f"# REGRESSION mode: median delta "
              f"{100 * (med - 1):+.1f}% (bases >= {min_base}s, "
              f"n={len(rated)}); flags > +{flag_pct}%")
        flags = [(r, n) for r, n in rated if r > 1 + flag_pct / 100]
        for r, n in flags:
            print(f"{100 * (r - 1):+7.1f}%  {n}  {a[n]:.2f} -> {b[n]:.2f}")
        if flags and len(flags) >= max(10, len(rated) // 3):
            print("# NOTE: broad uniform inflation — see PERF.md round 10"
                  " (box drift); A/B the old code in a worktree before"
                  " treating these as regressions")
    else:
        print(f"# SCALE mode: ratio median {med:.2f}x "
              f"(bases >= {min_base}s, n={len(rated)}); "
              f"flags > {flag_ratio}x")
        for r, n in rated[:12]:
            print(f"{r:6.2f}x  {n}  {a[n]:.2f} -> {b[n]:.2f}")
        flags = [(r, n) for r, n in rated if r > flag_ratio]
        for r, n in flags:
            print(f"FLAG {r:.2f}x  {n} — audit the plan (output-row "
                  f"growth is the only honest excuse)")


if __name__ == "__main__":
    main()
