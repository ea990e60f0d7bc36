"""Lineage cuts (localCheckpoint) with an audit escape hatch.

A DataFrame consumed by k downstream branches re-evaluates its lineage
k times — Spark plans each reference independently (PERF.md round 7,
wave 2: a chained-rank query reached 201 exchanges this way). Queries
therefore cut lineage at the point of sharing via ``cut()``:

* ``eager=True`` where the relation gates iteration (graph edge
  lists — materialize now, iterate against the checkpoint);
* ``eager=False`` where plan construction must stay job-free (rank
  inputs, tf relations — the first action materializes once).

The escape hatch: a checkpoint replaces its subtree with a ``Scan
ExistingRDD`` node, which would BLIND the mechanical plan audits
(tests/test_plan_hygiene.py walks every query's executed plan to
reject cartesian products, unpartitioned windows over growing frames,
and forced broadcasts of growing tables). With
``SPARK_GRAFT_PLAN_AUDIT=1`` every ``cut()`` is an identity, so
the audits see the FULL plan — pre-cut subtrees included — while
production execution keeps the checkpoints. The variable is read per
call, not at import, so a test fixture can flip it locally.

IMPORTANT — audit mode changes more than checkpointing: the iterative
graph operators (operators/graph.py) also replace their data-dependent
convergence loops with a FIXED short unroll under this flag, so any
VALUE computed in audit mode may be non-converged garbage (duplicate
component ids, partial labels). Audit mode exists for exactly one kind
of consumer: code that reads ``executedPlan()`` / ``explain`` output
and never a row, which is what the flag's name,
``SPARK_GRAFT_PLAN_AUDIT=1``, says.

At 100 TB the same cut is GraphX's between-supersteps materialization:
``localCheckpoint`` stores the relation on executors (memory+disk) and
truncates lineage. The documented trade (Spark API docs): executor
loss forfeits the checkpointed blocks and fails the job rather than
recomputing — acceptable for derived relations that are cheap relative
to re-running their build k times, which is every call site here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def plan_audit_mode() -> bool:
    """True when the session runs in plan-audit mode: ``cut()`` is an
    identity AND iterative graph loops unroll a fixed round count, so
    results are PLANS-ONLY — never consume values computed under this
    flag. Reads ``SPARK_GRAFT_PLAN_AUDIT`` per call."""
    return os.environ.get("SPARK_GRAFT_PLAN_AUDIT") == "1"


def cut(df: DataFrame, *, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, or ``df`` unchanged when
    ``SPARK_GRAFT_PLAN_AUDIT=1`` (full-plan audit mode)."""
    if plan_audit_mode():
        return df
    return df.localCheckpoint(eager=eager)
