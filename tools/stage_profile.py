"""Per-stage execution decomposition for one or more queries (r15).

Runs each named query once (after a warm sweep of itself) in THIS
process's session with event logging enabled, then parses the event log
and prints per-stage: task count, sum of executor run time, JVM GC time,
input bytes, shuffle read/write bytes, and the stage name — guide §1's
"which stage, and is it compute / shuffle / scheduling" question without
the UI.

Usage: SPARK_GRAFT_SF_DIR=... python tools/stage_profile.py q1 [q2 ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVDIR = "/tmp/spark-events-r15"


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from pyspark.sql import SparkSession

    from financial_data_warehouse_automation_spark.registry import REGISTRY, load_all
    from financial_data_warehouse_automation_spark.session import cpu_count, sf_dir

    # same session settings as session.get_spark, plus event logging
    n = cpu_count()
    d = sf_dir()
    from financial_data_warehouse_automation_spark import session as sess

    builder_orig = sess.get_spark
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("stage-profile")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", sess.driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(sess.CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVDIR)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    load_all()

    marks = {}
    for q in names:
        spec = REGISTRY[q]
        spec.builder(spark, d).collect()  # warm
        spark.sparkContext.setJobDescription(f"SP::{q}")
        t0 = time.perf_counter()
        spec.builder(spark, d).collect()
        marks[q] = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log
    evfiles = [
        f for f in glob.glob(f"{EVDIR}/**", recursive=True)
        if os.path.isfile(f) and app_id in f and "appstatus" not in f
    ]
    assert evfiles, f"no event log for {app_id}"
    jobs = {}        # jobId -> description
    stage_job = {}   # stageId -> jobId
    stages = {}      # stageId -> accumulated metrics
    names_by_stage = {}
    lines = []
    for evfile in sorted(evfiles):
        with open(evfile) as f:
            lines.extend(f)
    if True:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = desc
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                names_by_stage[si["Stage ID"]] = (
                    si["Stage Name"], si["Number of Tasks"],
                    si["Completion Time"] - si["Submission Time"],
                )
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(sid, dict(run=0, gc=0, inb=0, srb=0,
                                                swb=0, fetchwait=0, tasks=0,
                                                deser=0, rser=0))
                s["tasks"] += 1
                s["run"] += m.get("Executor Run Time", 0)
                s["gc"] += m.get("JVM GC Time", 0)
                s["deser"] += m.get("Executor Deserialize Time", 0)
                s["rser"] += m.get("Result Serialization Time", 0)
                s["inb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s["srb"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s["fetchwait"] += sr.get("Fetch Wait Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                s["swb"] += sw.get("Shuffle Bytes Written", 0)

    for q in names:
        print(f"\n=== {q}  (timed pass wall: {marks[q]:.3f}s) ===")
        rows = []
        for sid, s in sorted(stages.items()):
            jid = stage_job.get(sid)
            if jid is None or f"SP::{q}" not in (jobs.get(jid) or ""):
                continue
            nm, ntask, wall = names_by_stage.get(sid, ("?", s["tasks"], 0))
            rows.append((sid, wall, s, nm.split("(")[0], ntask))
        for sid, wall, s, nm, ntask in rows:
            print(f"  stage {sid:4d} wall={wall/1e3:7.3f}s tasks={ntask:3d} "
                  f"runT={s['run']/1e3:7.2f}s gc={s['gc']/1e3:5.2f}s "
                  f"deser={s['deser']/1e3:5.2f}s "
                  f"in={s['inb']/2**20:7.1f}M sr={s['srb']/2**20:6.1f}M "
                  f"sw={s['swb']/2**20:6.1f}M fw={s['fetchwait']/1e3:5.2f}s  {nm}")
        tot_wall = sum(r[1] for r in rows) / 1e3
        print(f"  sum stage walls: {tot_wall:.3f}s (overlap possible); "
              f"wall-stagewall gap = scheduling/driver/py4j")


if __name__ == "__main__":
    main()
