"""Connected components via iterative min-label propagation.

The last stage of a fuzzy-dedup pipeline: near-dup *pairs* (from LSH /
brute verification) must collapse into *clusters* so one canonical doc
per cluster survives. Pairs form an undirected graph; components are
found by propagating the minimum node id along edges until fixpoint —
the standard shuffle-friendly formulation (each iteration is one join +
one aggregate; O(diameter) iterations, and near-dup graphs are
shallow). No driver-side graph state: the only driver traffic is the
per-iteration convergence counter, and ``localCheckpoint`` cuts the
lineage so plans don't grow with iterations.

At 100 TB: edges are the (bounded) LSH-verified pairs, node count is
the corpus; every iteration shuffles on node id — same key each time,
so AQE reuses the layout. For adversarial high-diameter graphs swap in
large-star/small-star; for dedup graphs plain propagation converges in
a handful of rounds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_warehouse_automation_spark.lineage import cut

# Rounds unrolled when SPARK_GRAFT_PLAN_AUDIT=1 (plan-audit mode, see
# lineage.plan_audit_mode). VALUES COMPUTED UNDER AUDIT MODE ARE
# INVALID: the fixed unroll skips convergence checks AND the loud
# non-convergence raise, so component labels may be partial with
# duplicate-id fan-out. Audit consumers read executedPlan() only.
# In audit mode cut() is identity, so every per-round convergence
# probe (the sig/changed collect) would EXECUTE a job over the
# round's full uncut lineage — and star contraction references its
# input ~16x per round, so round k's probe re-runs the upstream
# pipeline O(16^k) times. Queries that stack CC on a real pair
# pipeline (doc_neardup_dropset*) took minutes-to-unbounded under
# the audit. Audit consumers (tests/test_plan_hygiene.py,
# tools/scan_census.py) read executedPlan() only and never a value,
# so audit mode instead unrolls a FIXED two rounds with no driver
# probes: the returned plan still contains every per-round
# join/shuffle shape (each round is structurally identical), builds
# in compile time, and its (possibly non-converged) values are
# never consumed. Production mode is unchanged: data-dependent
# rounds, checkpointed, loud on exhaustion.
_AUDIT_UNROLL_ROUNDS = 2


def _audit_mode() -> bool:
    from financial_data_warehouse_automation_spark.lineage import plan_audit_mode

    return plan_audit_mode()


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Return ``(id, component)`` where component = min node id reachable.

    ``vertices``: one column ``id_col`` (isolated nodes become their own
    component). ``edges``: undirected pairs in ``src_col``/``dst_col``.
    """
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )
    labels = vertices.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("component")
    )
    labels = cut(labels, eager=True)

    audit = _audit_mode()
    for _ in range(_AUDIT_UNROLL_ROUNDS if audit else max_iters):
        neighbor = (
            sym.join(labels, sym.dst == labels.node)
            .select(F.col("src").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # LAZY cut (r15): the convergence probe below is the round's
        # first action and materializes the checkpoint inside its own
        # job — one Spark job per round instead of two (the eager form
        # ran a materialization job AND the probe job). Identical
        # semantics: every later reference reads the checkpoint.
        new_labels = cut(new_labels, eager=False)
        if not audit:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
        labels = new_labels
        if not audit and changed == 0:
            break
    return labels.select(F.col("node").alias(id_col), "component")


def connected_components_two_phase(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    swap-in ``connected_components``' docstring prescribes for
    ADVERSARIAL-DIAMETER graphs: min-label propagation needs
    O(diameter) rounds (a 10M-node path graph = 10M rounds), while
    star contraction converges in O(log² n) — each large-star hangs
    every node off its neighborhood minimum, each small-star
    collapses the low side, and the edge set monotonically flattens
    into one star per component.

    Per round: two groupBys keyed on the node id — the same
    shuffle-friendliness as propagation, but the ROUND COUNT no
    longer depends on graph shape. Convergence = the small-star
    output reaches a fixpoint (count + per-edge checksum both
    stable); ``lineage.cut`` bounds every iteration's plan.

    ``max_iters`` budgets work rounds PLUS one confirmation round
    (r8 advisor): the fixpoint is only observable as a round whose
    output signature equals the previous round's, so a graph whose
    star forest stabilizes on round k needs max_iters >= k + 1 —
    effective work rounds = max_iters − 1, and max_iters=1 always
    raises (even on an already-contracted input, whose first round
    is the confirmation). This is the deliberate safe-side trade:
    the alternative (trusting an unconfirmed final round) could
    return a non-fixpoint edge set with duplicate ids.

    Returns (id, component) with component = the min node id of the
    component, isolated vertices their own — bit-identical to
    ``connected_components`` (pinned by equality tests on random,
    path, and bridged-clique graphs).

    Under ``SPARK_GRAFT_PLAN_AUDIT=1`` (plan-audit mode) the loop
    unrolls a fixed ``_AUDIT_UNROLL_ROUNDS`` rounds with no
    convergence probes — see the module-level comment."""
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e = cut(sym, eager=True)

    def large_star(ed: DataFrame) -> DataFrame:
        # the reduce is over the UNDIRECTED neighborhood — the paper's
        # map emits both directions; rounds hand us one-directional
        # rows, so symmetrize first.
        bi = ed.union(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(u) = min over Γ(u) ∪ {u}; emit (v, m) for v ∈ Γ(u), v > u
        m = bi.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            bi.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # operate on v <= u orientation; m = min(S ∪ {u}); emit
        # (x, m) for every x ∈ S ∪ {u}, x != m
        le = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = le.groupBy("u").agg(F.min("v").alias("m"))  # v <= u, so min(S∪{u}) = min(v)
        nbr = (
            le.join(m, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edge = m.where(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v")
        )
        return nbr.union(self_edge).distinct()

    if _audit_mode():
        # See _AUDIT_UNROLL_ROUNDS: fixed unroll, no convergence
        # probes (each probe would execute the uncut lineage), values
        # never consumed by audit readers.
        for _ in range(_AUDIT_UNROLL_ROUNDS):
            e = cut(small_star(large_star(e)), eager=True)
        labels = e.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
        return (
            vertices.select(F.col(id_col).alias("node"))
            .join(labels, "node", "left")
            .select(
                F.col("node").alias(id_col),
                F.coalesce(F.col("component"), F.col("node")).alias(
                    "component"
                ),
            )
        )

    prev_sig = None
    converged = False
    for _ in range(max_iters):
        # LAZY cut (r15): the signature probe is the round's first
        # action and materializes the checkpoint in the same job —
        # halves the per-round job count vs the eager form. The next
        # round's plan builds on the (by then materialized)
        # checkpoint, so star contraction's ~16 references per round
        # still read blocks, never lineage.
        e = cut(small_star(large_star(e)), eager=False)
        # 31-bit mask before the sum: ANSI mode (Spark 4 default)
        # makes a raw sum of xxhash64 values a job-killing overflow
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.pmod(
                        F.xxhash64(F.col("u"), F.col("v")),
                        F.lit(1 << 31),
                    )
                ),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # A non-fixpoint edge set can hold MULTIPLE (node, label) rows
        # per node, so the final left join would fan out and emit
        # duplicate ids with non-minimum labels — a silent contract
        # violation (advisor finding). Propagation merely degrades to
        # stale labels; star contraction must fail loudly instead.
        raise RuntimeError(
            "connected_components_two_phase: star-forest fixpoint not "
            f"CONFIRMED within max_iters={max_iters} (one round of the "
            "budget is the confirming no-op round, so effective work "
            f"rounds = {max_iters - 1}); result would be malformed "
            "(duplicate ids). Raise max_iters — convergence is "
            "O(log^2 n) work rounds + 1 confirmation."
        )
    # e is now a star forest: (node, component-min). Isolated vertices
    # (and each component's hub itself) label themselves.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        vertices.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


# One definition of the co-purchase graph instead of three copies: the
# edge build (distinct order->part, basket-bounded self-join, >= 2
# shared orders) is the expensive prefix of part_reach_3hops,
# part_copurchase_triangles AND part_pagerank_step. Memoized per
# (applicationId, sf_dir) like tables._RELATION_CACHE, so a session
# running several graph queries — the driver gate, the sweep — builds
# and checkpoints it once. No memo in plan-audit mode: the cached
# DataFrame would pin whichever mode populated it first, and the
# audit must see the raw build.
_EDGE_CACHE: dict[tuple[str, str, int], "DataFrame"] = {}


def copurchase_edges(spark, sf_dir: str, min_orders: int = 2) -> DataFrame:
    """Oriented (a < b) part pairs co-bought in >= ``min_orders``
    orders — built once, localCheckpoint'ed (the relation is ~1% of
    lineitem and every consumer references it multiple times)."""
    import os

    from financial_data_warehouse_automation_spark.lineage import cut
    from financial_data_warehouse_automation_spark.tables import load_table

    audit = _audit_mode()
    key = (spark.sparkContext.applicationId, sf_dir, min_orders)
    if not audit and key in _EDGE_CACHE:
        return _EDGE_CACHE[key]
    l = load_table(spark, sf_dir, "lineitem")
    op = l.select("l_orderkey", "l_partkey").distinct()
    o1 = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    o2 = op.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("pb"))
    edges = (
        o1.join(o2, (F.col("k") == F.col("k2")) & (F.col("pa") < F.col("pb")))
        .groupBy(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_ord"))
        .where(F.col("n_ord") >= min_orders)
        .select("a", "b")
    )
    edges = cut(edges, eager=True)
    if not audit:
        for k in [k for k in _EDGE_CACHE if k[0] != key[0]]:
            del _EDGE_CACHE[k]
        _EDGE_CACHE[key] = edges
    return edges
