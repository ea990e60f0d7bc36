"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload basket --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work``; nothing is written outside the checkout.
One run: set up (session + registry), one cold pass, then as many warm
passes as fill ``--seconds`` at the workload's nominal pass time (at
least one), then the output checks, outside every timed interval. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` Spark's event log is on, spans are recorded and written to
``perfbench/.work/spans``, and the last line carries the per-layer
metrics. Lines above it name every metric with its
unit and sample count, the checks, and the run's environment.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "financial_data_warehouse_automation_spark"
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "3g"  # the package defaults to 16g, more than a 15 GB machine should give one run
# From G1's default initial heap (1/64 of RAM) the heap grows in steps
# chosen by measured GC time, so how often the warm passes collect
# followed the machine's load; starting at 1g steadies the pass times.
INITIAL_HEAP = "1g"

# Every per-layer metric a traced run reports: name -> (unit, better).
# A layer the workload never calls reads 0. Pass-scoped values are the
# median over the traced warm passes.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "registry.load_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "spark.plan_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.exchanges": ("count", "lower"),
    "tables.spread_exchanges": ("count", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.scan_bytes": ("bytes", "lower"),
    "spark.files_scanned": ("count", "lower"),
    "operators.ingest.lines_in": ("count", "higher"),
    "operators.ingest.facts_out": ("count", "higher"),
    "operators.warehouse.write_s": ("s", "lower"),
    "operators.warehouse.rows_superseded": ("count", "higher"),
    "operators.warehouse.ledger_open": ("count", "higher"),
    "operators.warehouse.ledger_resolved": ("count", "higher"),
    "operators.snapshots.commit_s": ("s", "lower"),
    "operators.snapshots.conflicts": ("count", "lower"),
    "operators.snapshots.bytes_written": ("bytes", "lower"),
    "operators.snapshots.files_written": ("count", "lower"),
    "operators.snapshots.write_amp": ("ratio", "lower"),
    "operators.snapshots.read_s": ("s", "lower"),
    "operators.snapshots.files_read": ("count", "lower"),
    "operators.text.candidate_pairs": ("count", "lower"),
    "operators.text.verified_pairs": ("count", "higher"),
    "operators.text.pair_precision": ("ratio", "higher"),
    "operators.graph.cc_jobs": ("count", "lower"),
    "operators.graph.cc_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def proc_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of (JVM RSS + driver RSS), sampled from /proc every 100 ms."""

    def __init__(self, pids: list[int]):
        self.pids, self.peak = pids, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))
            self._stop.wait(0.1)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def stop_jvm(spark, jvm) -> None:
    """Close the py4j gateway and wait for the JVM (and with it Spark's
    Python workers) to exit."""
    spark.sparkContext._gateway.shutdown()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def configure_env(trace: bool, run_id: str) -> dict:
    """Environment the package and Spark run under; recorded in the result."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    conf_dir = os.path.join(WORK, f"conf-trace{int(trace)}")
    events = os.path.join(WORK, "events", run_id)
    for d in (tmp, local, conf_dir):
        os.makedirs(d, exist_ok=True)
    conf = [
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{INITIAL_HEAP}",
        f"spark.sql.warehouse.dir {os.path.join(WORK, 'spark-warehouse')}",
    ]
    if trace:
        os.makedirs(events)
        conf += ["spark.eventLog.enabled true", f"spark.eventLog.dir file://{events}",
                 "spark.eventLog.compress false", "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return {**env, "initial_heap": INITIAL_HEAP, "event_log": events if trace else None}


def main(argv: list[str]) -> int:
    age0, t0 = proc_age_s(), time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("basket", "monthly_close"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in (PACKAGE, "tools/verify_oracle.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import the benchmark as a package, never its bare modules
    from perfbench.workloads import WORKLOADS, Check

    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    load_before = os.getloadavg()
    env = configure_env(trace, run_id)
    cls = WORKLOADS[args.workload]

    g0 = time.perf_counter()
    cls.prepare(WORK, args.seed)
    gen_s = time.perf_counter() - g0

    from perfbench.spans import Tracer

    tracer = Tracer(run_id, trace)
    with tracer.span("setup"):
        with tracer.span("session.start") as s_sess:
            from financial_data_warehouse_automation_spark.session import get_spark

            spark = get_spark("perfbench")
        with tracer.span("registry.load") as s_reg:
            from financial_data_warehouse_automation_spark.registry import load_all

            specs = load_all()
    setup_s = age0 + (time.perf_counter() - t0) - gen_s
    jvm = spark.sparkContext._gateway.proc
    sampler = RssSampler([jvm.pid, os.getpid()])
    try:
        wl = cls(spark, tracer, specs, WORK, args.seed)
        cold = wl.run_pass(read_plans=False)
        warm, traced = [], []
        # As many warm passes as fill --seconds at the workload's nominal
        # pass time. The count does not follow this run's speed: passes
        # still speed up as the JIT settles, so a median over a count that
        # did would move with the machine's load. A traced run mixes
        # untraced and traced passes (at least one of each) so it can
        # report the tracing overhead, in the order U T T U U T T U ...,
        # which cancels a steady speed-up over the passes.
        n_warm = max(2 if trace else 1, round(args.seconds / cls.nominal_pass_s))
        while len(warm) < n_warm:
            on = trace and len(warm) % 4 in (1, 2)
            tracer.enabled = on
            warm.append(wl.run_pass(read_plans=on))
            if on:
                traced.append(tracer.named("pass")[-1])
        tracer.enabled = trace
        try:
            checks = wl.check()
        except Exception as e:  # noqa: BLE001 - a check that cannot run has failed
            checks = [Check(f"{wl.name}.checks", False, f"{type(e).__name__}: {e}")]
        probe = wl.layer_probe() if trace else {}
    finally:
        peak_rss = sampler.stop()
        spark.stop()
        stop_jvm(spark, jvm)
    load_after = os.getloadavg()

    passes = [cold] + warm
    n_ops = sum(len(p.ops) + p.failed for p in passes)
    failed = sum(p.failed for p in passes) + sum(not c.ok for c in checks)
    attempted = n_ops + len(checks)
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(p.wall_s for p in warm), "s", len(warm)),
    }
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} run {run_id}")
    print("env " + json.dumps({**env, "loadavg_before": load_before, "loadavg_after": load_after}))
    print(f"gen_s = {gen_s:.4f} s (n=1, excluded from setup_s)")
    print("warm pass walls s: " + " ".join(f"{p.wall_s:.3f}" for p in warm))
    for name, (v, unit, n) in e2e.items():
        print(f"{name} = {v} {unit} (n={n})")
    # One sample per run, set by one fresh JVM's JIT warm-up and G1 heap
    # growth, which follow the machine's load: printed, not bounded.
    print(f"cold_pass_s = {cold.wall_s} s (n=1)")
    print(f"peak_rss_mb = {peak_rss} MB (n=1)")
    for name, v, unit, n, note in wl.summary(warm):
        print(f"{name} = {v} {unit} (n={n}{note})")
    print(f"ops_failed_frac = {failed / attempted} ratio ({failed} of {attempted})")
    for c in checks:
        print(f"check {c.name}: {'PASS' if c.ok else 'FAIL'} {c.detail}")

    if trace:
        metrics = layer_metrics(tracer, env["event_log"], traced, probe, warm, s_sess, s_reg)
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.write(os.path.join(WORK, "spans", f"{run_id}.jsonl"))
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        for k, (v, u) in sorted(metrics.items()):
            print(f"{k} = {v} {u}")
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u, _n) in e2e.items()}
    if hasattr(wl, "cleanup"):
        wl.cleanup()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def layer_metrics(tracer, event_dir: str, traced: list, probe: dict, warm: list,
                  s_sess, s_reg) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run, from its spans and Spark's
    event log (read after the session stopped)."""
    from perfbench.sparklog import EventLog

    log = EventLog.load(event_dir)
    per_pass = []
    for p in traced:
        spans = tracer.descendants(p)

        def total(name: str) -> float:
            return sum(s.duration for s in spans if s.name == name)

        w = log.window(p.start, p.end)
        w["queries.build_s"] = total("queries.build")
        w["spark.plan_s"] = sum(s.attrs.get("plan_s", 0.0) for s in spans)
        w["operators.warehouse.write_s"] = total("operators.warehouse.write")
        w["operators.snapshots.commit_s"] = total("operators.snapshots.commit")
        w["operators.snapshots.read_s"] = total("operators.snapshots.read")
        w["operators.snapshots.files_read"] = sum(
            log.window(s.start, s.end)["spark.files_scanned"] for s in spans if s.name == "report"
        )
        per_pass.append(w)
    values = {k: 0.0 for k in PER_LAYER}
    values.update({k: statistics.median(w[k] for w in per_pass) for k in per_pass[0]})
    values["session.start_s"] = s_sess.duration
    values["registry.load_s"] = s_reg.duration
    values.update(probe)
    for s in tracer.named("operators.graph"):
        values["operators.graph.cc_jobs"] = log.window(s.start, s.end)["spark.jobs"]
    untraced = [p.wall_s for i, p in enumerate(warm) if i % 4 in (0, 3)]
    values["trace.overhead_s"] = statistics.median(s.duration for s in traced) - statistics.median(untraced)
    return {k: (values[k], unit) for k, (unit, _b) in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
