"""measure.py: one query's layer split, the calibration probes and the
formatted plan, read from the live session at sf0.001."""

from __future__ import annotations

import os

import pytest

from financial_data_warehouse_automation_spark import measure
from financial_data_warehouse_automation_spark.registry import load_all


@pytest.fixture(scope="module")
def pricing(spark, sf_dir):
    spec = load_all()["pricing_summary"]
    return measure.record(spark, "pricing_summary", lambda: spec.builder(spark, sf_dir))


def test_record_counts_jobs_and_stages(pricing):
    assert pricing["jobs"] >= 1
    assert pricing["stages"] == len(pricing["per_stage"]) >= 1
    assert pricing["tasks"] >= pricing["stages"]


def test_record_scan_bytes_are_the_parquet_bytes_on_disk(pricing, sf_dir):
    # pricing_summary scans lineitem alone; task-level "Bytes Read"
    # under-counts it, the scan node's filesSize metric does not
    assert pricing["scan_files"] >= 1
    assert pricing["scan_bytes"] == os.path.getsize(
        os.path.join(sf_dir, "lineitem.parquet")
    )


def test_record_phases_and_driver_gap(pricing):
    for phase in ("analysis_s", "optimization_s", "planning_s"):
        assert pricing[phase] >= 0
    assert 0 <= pricing["build_s"] <= pricing["wall_s"]
    assert 0 <= pricing["driver_gap_s"] <= pricing["wall_s"]


def test_probes_are_two_positive_floats(spark, sf_dir):
    cpu, scan = measure.probes(spark, sf_dir)
    assert isinstance(cpu, float) and cpu > 0
    assert isinstance(scan, float) and scan > 0


def test_formatted_plan_returns_text_and_prints_nothing(spark, sf_dir, capsys):
    df = load_all()["pricing_summary"].builder(spark, sf_dir)
    plan = measure.formatted_plan(df)
    assert plan.startswith("== Physical Plan ==")
    assert capsys.readouterr().out == ""


def _job_ids(sc) -> set[int]:
    """Every job the live status store holds."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_record_counts_jobs_started_on_pool_threads(spark, sf_dir):
    """ingest_monthly_snapshot_loop writes from ThreadPoolExecutor
    threads. Those threads keep the caller's job group, so record
    counts every job the build started."""
    spec = load_all()["ingest_monthly_snapshot_loop"]
    before = _job_ids(spark.sparkContext)
    rec = measure.record(spark, spec.name, lambda: spec.builder(spark, sf_dir))
    new = _job_ids(spark.sparkContext) - before
    assert rec["jobs"] == len(new) > 0
