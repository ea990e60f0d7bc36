"""One measurement module for ``bench.py``, ``cli profile`` and ``tools/``.

* ``formatted_plan(df)`` — the ``explain("formatted")`` text, returned
  instead of printed.
* ``probes(spark, sf_dir)`` — the two box-speed calibration probes
  ``bench.py`` records (``calib_spark_sec``, ``calib_scan_sec``).
* ``record(spark, name, build)`` — one build + collect split into
  layers: Python/py4j build, the three Catalyst phases, per-stage
  execution (tasks, run/CPU/GC time, shuffle, spill), scan bytes and
  files, and the driver gap, i.e. the wall time no stage covers
  (scheduling, AQE re-planning, result collection, and the build).

Everything is read from the live session: the stage metrics from
Spark's status store (kept whether or not the UI runs), the scan
metrics from the scan nodes' SQL metrics in the AQE final plan.
Task-level ``Bytes Read`` is not used: it under-counts parquet scans
(about 18 KB for a 600k-row lineitem scan).
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string, without touching stdout."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def probes(spark: SparkSession, sf_dir: str) -> tuple[float, float]:
    """(cpu, scan): min-of-3 seconds of two fixed workloads.

    cpu is a pure-JVM whole-stage-codegen range hash (no I/O, no
    shuffle, no Python); scan is a full pass over lineitem's price
    column with an exact-decimal sum (file open, parquet decode, task
    scheduling, memory). Read together they separate "box CPU slower"
    from "storage/scheduler weather". A probe in a fresh JVM reads
    higher than one taken after a warm sweep, so compare like with like.
    """
    cpu = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(3_000_000_000).selectExpr(
            "bit_xor(xxhash64(id))"  # xor: no ANSI overflow
        ).collect()
        cpu = min(cpu, time.perf_counter() - t0)
    scan = float("inf")
    li_price = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .select("l_extendedprice")
    for _ in range(3):
        t0 = time.perf_counter()
        li_price.agg({"l_extendedprice": "sum"}).collect()
        scan = min(scan, time.perf_counter() - t0)
    return cpu, scan


def record(spark: SparkSession, name: str,
           build: Callable[[], DataFrame]) -> dict:
    """Build and collect one query under its own job group; return its
    layer split as a flat JSON-ready dict plus a ``per_stage`` list.

    Jobs a builder starts on threads of its own do not inherit the job
    group and are not counted. Scan bytes and files cover the scans in
    the collected plan; a scan behind a lineage cut ran in another plan.
    """
    sc = spark.sparkContext
    group = f"measure-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"measure:{name}")
    try:
        t0 = time.time()
        df = build()
        t1 = time.time()
        df.collect()
        t2 = time.time()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    phases = _phase_s(df)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages, spans = _stages(sc, jobs)
    scan_bytes, scan_files = _scan_metrics(df._jdf.queryExecution().executedPlan())
    wall = t2 - t0

    def total(key: str) -> float:
        return sum(s[key] for s in stages)

    return {
        "query": name,
        "wall_s": round(wall, 4),
        "build_s": round(t1 - t0, 4),
        "analysis_s": phases.get("analysis", 0.0),
        "optimization_s": phases.get("optimization", 0.0),
        "planning_s": phases.get("planning", 0.0),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": total("tasks"),
        "executor_run_s": round(total("run_s"), 3),
        "executor_cpu_s": round(total("cpu_s"), 3),
        "gc_s": round(total("gc_s"), 3),
        "shuffle_read_bytes": total("shuffle_read_bytes"),
        "shuffle_write_bytes": total("shuffle_write_bytes"),
        "spill_bytes": total("spill_bytes"),
        "scan_bytes": scan_bytes,
        "scan_files": scan_files,
        "driver_gap_s": round(wall - _covered(spans, t0, t2), 4),
        "per_stage": stages,
    }


def _phase_s(df: DataFrame) -> dict[str, float]:
    """The QueryExecution tracker's phase durations, in seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.keysIterator()
    while it.hasNext():
        k = it.next()
        p = phases.apply(k)
        out[str(k)] = (p.endTimeMs() - p.startTimeMs()) / 1e3
    return out


def _stages(sc, jobs: list[int]) -> tuple[list[dict], list[tuple[float, float]]]:
    """One entry per stage that ran in ``jobs`` (skipped stages excluded),
    and each such stage's (submitted, completed) epoch seconds."""
    store = sc._jsc.sc().statusStore()
    ids: set[int] = set()
    for j in jobs:
        seq = store.job(j).stageIds()
        ids.update(int(seq.apply(i)) for i in range(seq.size()))
    out, spans = [], []
    for sid in sorted(ids):
        s = store.lastStageAttempt(sid)
        if s.submissionTime().isEmpty():
            continue
        done = s.completionTime()
        spans.append((
            s.submissionTime().get().getTime() / 1e3,
            done.get().getTime() / 1e3 if done.isDefined() else time.time(),
        ))
        out.append({
            "stage": sid,
            "name": str(s.name()).split(" at ")[0],
            "tasks": int(s.numTasks()),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": round(s.executorCpuTime() / 1e9, 4),
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_read_bytes": int(s.shuffleReadBytes()),
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "spill_bytes": int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
        })
    return out, spans


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _scan_metrics(plan) -> tuple[int, int]:
    """(bytes, files) summed over the ``filesSize``/``numFiles`` SQL
    metrics of every scan in a physical plan, descending into AQE final
    plans, query stages and subqueries; each metric counts once."""
    seen: dict[int, tuple[str, int]] = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for key in ("filesSize", "numFiles"):
            m = metrics.get(key)
            if m.isDefined():
                seen[m.get().id()] = (key, m.get().value())
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return (sum(v for k, v in seen.values() if k == "filesSize"),
            sum(v for k, v in seen.values() if k == "numFiles"))
