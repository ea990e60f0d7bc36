"""Pins for financial_data_warehouse_automation_spark.lineage.cut — the lineage-cut helper with
the plan-audit escape hatch (PERF.md round 7, wave 2).

Two properties are load-bearing:

1. identity under SPARK_GRAFT_PLAN_AUDIT=1 — the hygiene sweeps
   rely on cut() vanishing so they can walk the FULL plan;
2. see-through actually happens — a query whose expensive stage sits
   behind a cut must expose that stage to the audit (a regression to
   bare ``localCheckpoint`` would silently blind the cartesian/window
   sweeps again, which is exactly how dedup_cluster_components' bounded
   BNLJ went unaudited for a round).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from financial_data_warehouse_automation_spark.lineage import cut


def test_cut_is_identity_in_audit_mode(spark, monkeypatch):
    df = spark.range(5).select(F.col("id"))
    monkeypatch.setenv("SPARK_GRAFT_PLAN_AUDIT", "1")
    assert cut(df, eager=False) is df
    monkeypatch.delenv("SPARK_GRAFT_PLAN_AUDIT")
    out = cut(df, eager=True)
    assert out is not df
    assert [r.id for r in out.orderBy("id").collect()] == [0, 1, 2, 3, 4]


def test_cut_checkpoints_same_rows(spark, sf_dir, monkeypatch):
    """The audit-mode and production plans of a cut-using query return
    identical rows — the flag changes execution shape only."""
    from financial_data_warehouse_automation_spark.queries.relational import part_basket_affinity

    prod = part_basket_affinity(spark, sf_dir).collect()
    monkeypatch.setenv("SPARK_GRAFT_PLAN_AUDIT", "1")
    audit = part_basket_affinity(spark, sf_dir).collect()
    assert prod == audit


def test_audit_mode_exposes_precut_stages(spark, sf_dir, monkeypatch):
    """In audit mode the basket aggregation (collect_set over the
    lineitem scan) must be visible in the executed plan; in production
    it hides behind the checkpoint's RDD scan."""
    from financial_data_warehouse_automation_spark.queries.relational import part_basket_affinity

    monkeypatch.setenv("SPARK_GRAFT_PLAN_AUDIT", "1")
    audit_plan = part_basket_affinity(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "collect_set" in audit_plan
    assert "lineitem" in audit_plan
    monkeypatch.delenv("SPARK_GRAFT_PLAN_AUDIT")
    prod_plan = part_basket_affinity(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "ExistingRDD" in prod_plan
