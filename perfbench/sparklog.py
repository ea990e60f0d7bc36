"""Spark's own job, stage, task and SQL metrics, read from its event log.

The traced run enables the event log from outside the package (a
benchmark-owned ``spark-defaults.conf`` under ``SPARK_CONF_DIR``). After
the session stops, ``EventLog.load`` parses the finished file and
``EventLog.window`` attributes everything Spark did to a wall-clock
window, i.e. to one span of the single-client benchmark.

Scan bytes and files come from the scan nodes' SQL metrics in the
executed plans (task-level ``Bytes Read`` under-counts parquet scans).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

from perfbench.spans import covered

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Stage:
    submit: float
    complete: float
    tasks: list[dict] = field(default_factory=list)


@dataclass
class Execution:
    start: float
    plans: list[dict] = field(default_factory=list)   # initial + AQE updates


@dataclass
class EventLog:
    jobs: list[tuple[float, list[int]]] = field(default_factory=list)  # (submit s, stage ids)
    stages: dict[int, Stage] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    accums: dict[int, int] = field(default_factory=dict)  # driver-side SQL metrics

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        log = cls()
        task_ends: list[dict] = []
        with open(files[0]) as f:
            for line in f:
                log._add(json.loads(line), task_ends)
        for t in task_ends:
            st = log.stages.get(t["Stage ID"])
            if st is not None:
                st.tasks.append(t)
        return log

    def _add(self, e: dict, task_ends: list[dict]) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs.append((e["Submission Time"] / 1000, list(e["Stage IDs"])))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = Stage(
                info["Submission Time"] / 1000, info["Completion Time"] / 1000
            )
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(e)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = Execution(e["time"] / 1000, [e["sparkPlanInfo"]])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex.plans.append(e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.accums[acc_id] = self.accums.get(acc_id, 0) + value

    def window(self, lo: float, hi: float) -> dict[str, float]:
        """Everything Spark did for jobs submitted in ``[lo, hi]``."""
        stage_ids = sorted({s for t, ids in self.jobs if lo <= t <= hi for s in ids})
        stages = [self.stages[s] for s in stage_ids if s in self.stages]  # skipped stages never complete
        tasks = [t for st in stages for t in st.tasks]
        m = [t.get("Task Metrics") or {} for t in tasks]
        execs = [x for x in self.executions.values() if lo <= x.start <= hi]
        nodes = _final_nodes(execs)
        scans = _scan_accums(execs)
        widest = max(stages, key=lambda s: len(s.tasks), default=None)
        return {
            "spark.jobs": sum(1 for t, _ in self.jobs if lo <= t <= hi),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.driver_gap_s": (hi - lo) - covered([(s.submit, s.complete) for s in stages], lo, hi),
            "spark.exchanges": sum(1 for n in nodes if n["nodeName"] in ("Exchange", "BroadcastExchange")),
            "tables.spread_exchanges": sum(
                1 for n in nodes
                if n["nodeName"] == "Exchange" and "REPARTITION_BY_NUM" in n["simpleString"]
            ),
            "spark.executor_cpu_s": sum(x.get("Executor CPU Time", 0) for x in m) / 1e9,
            "spark.gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3,
            "spark.shuffle_write_bytes": sum(
                (x.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for x in m
            ),
            "spark.shuffle_read_bytes": sum(
                (x.get("Shuffle Read Metrics") or {}).get("Remote Bytes Read", 0)
                + (x.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0) for x in m
            ),
            "spark.spill_bytes": sum(
                x.get("Memory Bytes Spilled", 0) + x.get("Disk Bytes Spilled", 0) for x in m
            ),
            "spark.task_skew": _skew(widest),
            "spark.scan_bytes": sum(self.accums.get(a, 0) for a in scans["size of files read"]),
            "spark.files_scanned": sum(self.accums.get(a, 0) for a in scans["number of files read"]),
        }


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _final_nodes(execs: list[Execution]) -> list[dict]:
    """Nodes of each execution's last (final) plan."""
    return [n for x in execs for n in _walk(x.plans[-1])]


def _scan_accums(execs: list[Execution]) -> dict[str, set[int]]:
    """Accumulator ids of the file-scan metrics, deduplicated across the
    initial and re-optimized plans that share them."""
    out: dict[str, set[int]] = {"size of files read": set(), "number of files read": set()}
    for x in execs:
        for plan in x.plans:
            for n in _walk(plan):
                if n["nodeName"].startswith("Scan "):
                    for met in n.get("metrics", ()):
                        if met["name"] in out:
                            out[met["name"]].add(met["accumulatorId"])
    return out


def _skew(stage: Stage | None) -> float:
    """Max ÷ median task time of a stage (1.0 for a single task)."""
    if stage is None or not stage.tasks:
        return 0.0
    d = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in stage.tasks]
    med = statistics.median(d)
    return max(d) / med if med > 0 else 1.0
