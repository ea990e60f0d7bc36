"""Physical-plan hygiene pins (the scale contract, SURVEY §4):
pushdown reaches the parquet scan, projections prune the read schema,
and no query force-broadcasts a table that grows with scale. These
fail when a refactor silently de-optimizes a plan even though results
stay correct."""

from __future__ import annotations

import re

import pytest

from financial_data_warehouse_automation_spark.registry import load_all


def _plan(spark, name, sf_dir) -> str:
    df = load_all()[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def all_plan_objs(spark, sf_dir) -> dict:
    """Executed SparkPlan (JVM object) for every registered query,
    built ONCE per test session — the registry-wide sweeps (cartesian,
    global-window, single-row-broadcast proofs) all read from here
    instead of re-running the builders (some of which, e.g. the
    streaming drains, are expensive).

    Built with SPARK_GRAFT_PLAN_AUDIT=1 (financial_data_warehouse_automation_spark.lineage.cut
    becomes identity): a localCheckpoint replaces its subtree with a
    Scan ExistingRDD node, which would hide the pre-cut stages — the
    graph edge builds, rank inputs, basket aggregation — from exactly
    the hazards this file exists to reject. Audit the FULL plan;
    production keeps the cuts."""
    import os

    os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"
    try:
        plans = {}
        for name, spec in load_all().items():
            try:
                plans[name] = spec.builder(spark, sf_dir)._jdf.queryExecution(
                ).executedPlan()
            except Exception:  # streaming-only / fixture-path builders
                continue
        return plans
    finally:
        os.environ.pop("SPARK_GRAFT_PLAN_AUDIT", None)


@pytest.fixture(scope="session")
def all_plans(all_plan_objs) -> dict[str, str]:
    return {n: p.toString() for n, p in all_plan_objs.items()}


def _walk(node, depth=0):
    """Preorder walk of a SparkPlan JVM tree, descending through AQE
    wrappers (QueryStageExec carries its subtree in plan())."""
    name = node.getClass().getSimpleName()
    yield name, node, depth
    if name.endswith("QueryStageExec"):
        yield from _walk(node.plan(), depth + 1)
        return
    if name == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan(), depth + 1)
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), depth + 1)


def _bnlj_broadcasts_single_row(plan_obj) -> bool:
    """True iff EVERY BroadcastNestedLoopJoin in the plan broadcasts a
    provably <= 1-row side: its broadcast child's shallowest aggregate
    has NO grouping keys (a grouping-free aggregate emits exactly one
    row). This replaces ~20 name-based allow-list entries with a
    structural proof — a query that crossJoins a small-but-growing
    frame no longer sails through on its name."""
    for name, node, _ in _walk(plan_obj):
        if name != "BroadcastNestedLoopJoinExec":
            continue
        ch = node.children()
        ok = False
        for i in range(ch.size()):
            c = ch.apply(i)
            croot = c.getClass().getSimpleName()
            if not (
                croot.startswith("BroadcastExchange")
                or croot == "BroadcastQueryStageExec"
                or croot == "ReusedExchangeExec"
            ):
                continue
            # first aggregate in preorder = the final (outermost) agg
            for sub_name, sub_node, _ in _walk(c):
                if sub_name.endswith("AggregateExec"):
                    ok = bool(sub_node.groupingExpressions().isEmpty())
                    break
            break
        if not ok:
            return False
    return True


def _unpartitioned_windows(plan: str) -> list[str]:
    """Lines whose Window node has an EMPTY partition spec.

    A Window renders as ``Window [exprs], [partitionCols], [orderCols]``
    with empty groups omitted, so group count alone is ambiguous:
    2 groups is either (partition, no order) — fine — or (order, no
    partition) — the single-task global sort. Order specs always carry
    a sort direction (ASC/DESC), partition specs never do; 1 group
    means neither partition nor order (a global frame aggregate)."""
    bad = []
    for ln in plan.splitlines():
        m = re.search(r"\bWindow \[", ln)
        if not m:
            continue
        s = ln[m.start() + len("Window "):]
        depth, groups, cur = 0, [], []
        for ch in s:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        if len(groups) <= 1 or (
            len(groups) == 2
            and re.search(r"\b(ASC|DESC)\b", groups[1])
        ):
            bad.append(ln.strip()[:160])
    return bad


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    # shipdate filter reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 referenced columns are read, not all 11
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_tax" in read


def test_no_forced_broadcast_of_growing_tables(spark, sf_dir):
    # customer/part grow with SF: only region/nation may carry an
    # explicit broadcast hint (VERDICT r1 #6). AQE may still *choose*
    # broadcast at tiny SF — the pin is on the logical hint, so inspect
    # the analyzed (pre-AQE) optimized plan for ResolvedHint.
    for name in ("monthly_segment_totals", "region_revenue"):
        df = load_all()[name].builder(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for line in analyzed.splitlines():
            if "ResolvedHint" in line:
                ctx = analyzed[analyzed.index(line):][:2000]
                assert "c_custkey" not in ctx.split("Relation")[1], (
                    f"{name}: broadcast hint reaches customer"
                )


def test_global_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, "top10_orders_global", sf_dir)
    assert "TakeOrderedAndProject" in plan  # no full global sort


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    # the merge-formulated as-of must not contain a join of events
    # against orders (no row explosion) — only union + window
    plan = _plan(spark, "events_asof_last_order", sf_dir)
    assert "Union" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_lsh_join_is_bucketed_not_cartesian(spark, sf_dir):
    plan = _plan(spark, "doc_minhash_lsh_pairs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_accidental_cartesian_anywhere(all_plans, all_plan_objs):
    """Registry-wide sweep: no query's physical plan may contain a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only if
    (a) the broadcast side is PROVABLY single-row — a grouping-free
    aggregate, verified structurally on the plan tree (the scalar
    normalizer/threshold/bounds broadcasts ~20 queries use) — or
    (b) the query is name-listed below as an intended non-equi join
    over a bounded multi-row side (the range join; subset-bounded
    brute-force pair generators; broadcast probe sets). Catches a
    refactor that silently drops an equi condition and explodes at
    scale — and, since round 5, one that crossJoins a small-but-
    GROWING frame, which the old name-based allow-list would have
    rubber-stamped."""
    bnlj_bounded = {
        "events_range_join_quarters",   # quarter intervals: bounded build side
        "gap_fill_pending_revenue",     # month spine x 5 priorities axis
        "doc_jaccard_pairs_brute",      # 100-doc anchor subset, by design
        "dedup_cluster_components",     # same 100-doc bounded edge build
                                        # (visible since the audit sees
                                        # through lineage cuts)
        "dedup_cluster_two_phase",      # same bounded edge build feeding
                                        # star contraction
        "part_name_similarity",         # bounded sample x sample pairs
        "embedding_near_dup_pairs",     # bounded probe set vs corpus
        "ann_cosine_topk_brute",        # broadcast probes over corpus
        "ann_cosine_topk_quantized",    # broadcast probes, int8 candidate gen
        "ann_cosine_topk_rhp",
        "ann_cosine_topk_ivf",
        "ann_cosine_topk_ivf_kmeans",
        "ann_cosine_topk_ivf_rerank",   # broadcast centroid set (coarse
                                        # stage shared with _ivf variants)
        "kmeans_lloyd_step",            # broadcast k centroids over corpus
    }
    offenders = {}
    for name, plan in all_plans.items():
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_bounded:
            if not _bnlj_broadcasts_single_row(all_plan_objs[name]):
                offenders[name] = "BNLJ whose broadcast side is not provably single-row"
    assert not offenders, f"unexpected non-equi join plans: {offenders}"


def test_referential_audit_single_fact_scan(all_plans):
    """warehouse_referential_audit streams each child table ONCE
    through all its FK checks (the round-7 rework): a regression to
    per-relationship anti-joins — or a select-per-relationship that
    re-references the one-row agg — shows up as lineitem scanned more
    than once. As the fact table, lineitem is the scan that matters
    at 100 TB."""
    import re

    plan = all_plans["warehouse_referential_audit"]
    lineitem_scans = len(
        re.findall(r"FileScan parquet [^\n]*lineitem\.parquet", plan)
    )
    assert lineitem_scans == 1, (
        f"referential audit scans lineitem {lineitem_scans}x (want 1)"
    )


def test_snapshot_diff_single_pass(all_plans):
    """warehouse_snapshot_diff's nested cutoffs fold both snapshots
    into ONE conditional aggregate: the plan must contain no join
    operator at all (the round-4 formulation full-outer-joined two
    separately aggregated scans — its claimed exchange reuse never
    happened because the cutoff filters made the subtrees differ)."""
    plan = all_plans["warehouse_snapshot_diff"]
    assert "Join" not in plan, "snapshot diff regressed to a join formulation"


def test_no_unbounded_global_window_anywhere(all_plans):
    """Registry-wide sweep: no query's physical plan may contain a
    Window with an EMPTY partition spec over an uncapped input — the
    single-task global sort that kills a plan at 100 TB (round-4
    verdict items #1-3: customer_rfm_segments, customer_revenue_gini
    and doc_zipf_fit all shipped one; all three now use the two-pass
    bucket-offset rank / TakeOrderedAndProject instead). Allowed only
    where the windowed frame is CAPPED by construction, per the
    documented list below."""
    global_window_ok = {
        # two-pass bucket-offset rank (operators/ranks.py): the
        # unpartitioned window runs over the <= n_buckets per-bucket
        # counts (~32 rows), never the data
        "part_abc_pareto",
        "customer_rfm_segments",
        "customer_revenue_gini",
        "doc_shuffle_order",
        "order_equidepth_bins",
        "order_sampled_quantiles",
        # post-limit frame: rank runs AFTER orderBy().limit(100)
        # (TakeOrderedAndProject), so the window sees <= 100 rows
        "doc_zipf_fit",
        # month-grain spine: the frame is one row per calendar month
        # of the dataset (bounded by wall-clock time, not data volume)
        "interpolate_monthly_revenue",
        # ingest directory listing: one row per staged workbook file —
        # metadata grain, orders of magnitude below the data itself
        "ingest_file_listing",
    }
    offenders = {
        name: bad
        for name, plan in all_plans.items()
        if name not in global_window_ok
        and (bad := _unpartitioned_windows(plan))
    }
    assert not offenders, (
        "partition-less Window over uncapped input (use the two-pass "
        f"bucket-offset rank or a top-k limit instead): {offenders}"
    )


def test_runtime_bloom_filter_injects_at_scale_conditions(spark, sf_dir):
    """Runtime bloom-filter join pruning (on by default) gates on the
    conditions of a big cluster: application-side scan >10 GB and a
    non-broadcastable creation side. At sf0.1 neither holds, so
    recreate them via conf to pin that a selective dim filter DOES
    inject a bloom filter into the fact scan — the row-group-skipping
    lever a 100 TB lineitem⋈filtered-orders plan relies on."""
    from pyspark.sql import functions as F

    app_thresh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    old_app, old_bcast = spark.conf.get(app_thresh), spark.conf.get(bcast)
    try:
        spark.conf.set(app_thresh, "0")
        spark.conf.set(bcast, "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized, "no runtime bloom filter injected"
    finally:
        spark.conf.set(app_thresh, old_app)
        spark.conf.set(bcast, old_bcast)


def test_tfidf_topk_pushes_window_group_limit(spark, sf_dir):
    # the rk<=3 cut must plan as WindowGroupLimit (partial per-partition
    # top-k below the shuffle), not a full window + filter
    plan = _plan(spark, "doc_tfidf_top_terms", sf_dir)
    assert "WindowGroupLimit" in plan


def test_kmv_rank_limit_pushdown(spark, sf_dir):
    """Both KMV sketch queries dropped their r6-era 64-way salted
    pre-pass in round 10 BECAUSE WindowGroupLimit bounds the per-group
    funnel map-side (k smallest per input partition before the
    exchange) — so the bound must stay structural: if a Spark upgrade
    or plan change drops the rewrite, the unsalted k-min window
    regresses to funneling each group's full distinct-hash set through
    one task, and this test is the tripwire (A/B behind the removal:
    PERF.md round 10, salt = +15-20% pure overhead at sf1)."""
    for name in ("approx_distinct_parts_kmv", "events_kmv_weekly_merge"):
        assert "WindowGroupLimit" in _plan(spark, name, sf_dir), name


def test_tpch_deep_plan_shapes(spark, sf_dir):
    """The round-3 decision-support band keeps its intended physical
    strategies: global top-k stays TakeOrderedAndProject, the
    IN-subquery runs as a semi-join (no row duplication), and the
    disjunctive Q19 predicate still pushes per-side conjuncts into
    BOTH parquet scans."""
    plan = _plan(spark, "q10_returned_items", sf_dir)
    assert "TakeOrderedAndProject" in plan

    plan = _plan(spark, "q18_large_orders", sf_dir)
    assert "LeftSemi" in plan

    plan = _plan(spark, "q19_disjunctive_revenue", sf_dir)
    scans = [s for s in plan.split("FileScan parquet")[1:]]
    pushed = [s.split("PushedFilters: ")[1].splitlines()[0] for s in scans
              if "PushedFilters: " in s]
    # lineitem scan gets the quantity envelope, part scan gets the
    # brand In + size envelope — the Or must decompose, not vanish
    assert any("l_quantity" in p and "Or" in p for p in pushed), pushed
    assert any("p_brand" in p for p in pushed), pushed


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """salted_join must actually join on (key, salt): the physical join
    keys include the salt column, so a hot o_custkey is spread across
    n_salts shuffle partitions instead of one."""
    plan = _plan(spark, "skew_salted_segment_revenue", sf_dir)
    join_frag = plan.split("Join")[1][:400] if "Join" in plan else plan
    assert "_salt" in join_frag, join_frag


def test_bucketed_join_colocated_smj_shuffle_free(spark, sf_dir):
    """The bucketed-layout proof, structurally: bucketed_join_colocated's
    SortMergeJoin subtree contains ZERO shuffle exchanges (both scan
    sides ride the bucketed layout straight into the merge), while the
    IDENTICAL join over the raw parquet needs one per side. The only
    exchanges in the whole bucketed plan belong to the post-join
    aggregate/sort."""
    from financial_data_warehouse_automation_spark.registry import load_all
    from financial_data_warehouse_automation_spark.tables import load_table

    obj = (
        load_all()["bucketed_join_colocated"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
    )
    smj = [n for name, n, _ in _walk(obj) if name == "SortMergeJoinExec"]
    assert len(smj) == 1, "the MERGE hint must pin a sort-merge join"
    assert not any(
        "ShuffleExchange" in name for name, _, _ in _walk(smj[0])
    ), "bucketed scan sides must reach the join without a shuffle"

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    twin = (
        li.hint("merge")
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    tobj = twin._jdf.queryExecution().executedPlan()
    tsmj = [n for name, n, _ in _walk(tobj) if name == "SortMergeJoinExec"]
    assert len(tsmj) == 1
    n_shuffles = sum(
        1 for name, _, _ in _walk(tsmj[0]) if "ShuffleExchange" in name
    )
    assert n_shuffles == 2, (
        "raw-parquet twin should shuffle both sides; got "
        f"{n_shuffles} — if this changed, the comparison baseline moved"
    )


def test_partitioned_join_dpp_prunes_at_runtime(spark, sf_dir):
    """Dynamic partition pruning, proven at RUNTIME not just in the
    plan text: partitioned_join_dpp's fact scan must carry a live
    dynamicpruningexpression (not the degraded literal-true form that
    silently scans everything), and after execution the scan's
    numPartitions metric must show the quarter's 3 month directories,
    a strict subset of the table's partitions."""
    from financial_data_warehouse_automation_spark.registry import load_all

    df = load_all()["partitioned_join_dpp"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "dynamicpruningexpression" in text
    assert "dynamicpruningexpression(true)" not in text, (
        "DPP degraded to literal true — broadcast reuse failed "
        "(dim side must stay canonically equal to Project[month])"
    )
    scans = [
        n for name, n, _ in _walk(plan) if name == "FileSourceScanExec"
    ]
    assert scans, "fact scan not found"
    read = scans[0].metrics().apply("numPartitions").value()
    total = (
        spark.table(
            [
                r.tableName
                for r in spark.sql("SHOW TABLES").collect()
                if r.tableName.startswith("ord_by_month")
            ][0]
        )
        .select("month")
        .distinct()
        .count()
    )
    assert read == 3, f"expected the quarter's 3 partitions, read {read}"
    assert total > read, "table must have more partitions than were read"


def test_aqe_skew_join_splits_hot_partition(spark):
    """The third runtime lever in the engine's 100 TB posture, after
    the bucketed co-located join and DPP: AQE's OptimizeSkewedJoin.
    A 90%-hot-key join under production-shaped thresholds (scaled to
    test volume through a CHILD session — spark.newSession() shares
    the SparkContext but isolates SQLConf, so the shared fixture
    session is never mutated) must execute as
    SortMergeJoin(skew=true): the hot partition splits into
    advisory-size chunks with the other side replicated per chunk,
    removing the straggler task with no query rewrite. This is why
    manual salting in this repo is reserved for skewed AGGREGATES
    (skew_salted_segment_revenue), where AQE cannot split the group."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "65536",
    )
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import pyspark.sql.functions as SF

    left = s2.range(0, 300_000).select(
        SF.when(SF.col("id") % 10 != 0, SF.lit(0))
        .otherwise(SF.col("id"))
        .alias("k"),
        SF.col("id").alias("v"),
    )
    right = s2.range(0, 2_000).select(
        SF.col("id").alias("k"), (SF.col("id") * 2).alias("w")
    )
    j = left.join(right, "k")
    n = len(j.collect())
    # hot key 0: 270,000 ids with id%10!=0 plus id=0 itself, each
    # matching right's k=0 row; cold side: ids 10..1990 step 10 = 199
    assert n == 270_001 + 199
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert any(
        "SortMergeJoin(skew=true)" in ln for ln in plan.splitlines()
    ), "AQE did not split the hot partition — skew-join lever broken"


def test_no_snapshot_read_bypasses_read_snapshot():
    """Committed snapshots are read through operators.snapshots'
    read_snapshot, which applies deletion vectors and column mapping.
    A star-splat ``spark.read.parquet(*dirs)`` over bucket directories,
    or a read of one bucket looked up in a mapping
    (``spark.read.parquet(manifest[b])``), under queries/ or streaming/
    skips both; only a read of staged, not-yet-committed directories may
    stay raw, and its line says so with ``# pre-commit read``."""
    import ast
    import pathlib

    import financial_data_warehouse_automation_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    bypasses = []
    for sub in ("queries", "streaming"):
        for path in sorted((root / sub).rglob("*.py")):
            src = path.read_text()
            lines = src.splitlines()
            for node in ast.walk(ast.parse(src)):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and re.search(r"\bread\b", ast.unparse(node.func.value))
                    and any(
                        isinstance(a, (ast.Starred, ast.Subscript))
                        for a in node.args
                    )
                ):
                    continue
                span = lines[node.lineno - 1:node.end_lineno]
                if not any("# pre-commit read" in ln for ln in span):
                    bypasses.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not bypasses, bypasses


def _code_strings(path):
    """``(line, text)`` for every string the module's code spells:
    literals, and f-strings with each field as ``{}``. Docstrings are
    left out, so they may describe what the code must not do."""
    import ast

    tree = ast.parse(path.read_text())
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            yield node.lineno, "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
        elif (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
            and id(node) not in docstrings
        ):
            yield node.lineno, node.value


def test_only_snapshots_module_names_store_files():
    """The snapshot store's file names — ``manifest[-<branch>]-v<N>.json``
    and the sidecars' ``<kind>[-<branch>]-v<N>[.<token>].json`` — and the
    manifest's ``_sidecars`` name map belong to operators/snapshots.py.
    Every other module goes through ``manifest_path``, ``read_manifest``
    and ``read_sidecar``, so a second copy of the file format cannot
    drift from the store. A literal, f-string or regex source that
    spells such a name fails; docstrings may describe the names."""
    import pathlib

    import financial_data_warehouse_automation_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    # -v2.json, f"-v{version}.json", r"-v(\d+)\.json"
    store_name = re.compile(r"-v(\d+|\{\}|\(\\d\+\)).*\.json")
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/snapshots.py":
            continue
        for line, text in _code_strings(path):
            if store_name.search(text) or text == "_sidecars":
                offenders.append(f"{rel}:{line}")
    assert not offenders, sorted(set(offenders))


def test_stream_state_has_one_exactly_once_protocol():
    """Stream state commits through operators.snapshots.stream_commit
    alone: its per-writer ledger skips replays and one manifest
    compare-and-swap publishes a batch. A dynamic partition overwrite
    is not atomic across partitions, and a per-row ``last_batch_id``
    high-water mark is a second replay ledger, so no package module
    but operators/sinks.py (the batch ``overwrite_table``) sets
    ``partitionOverwriteMode``, and none names a ``last_batch_id``
    column."""
    import pathlib

    import financial_data_warehouse_automation_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for line, text in _code_strings(path):
            if "last_batch_id" in text or (
                "partitionOverwriteMode" in text
                and rel != "operators/sinks.py"
            ):
                offenders.append(f"{rel}:{line}")
    assert not offenders, sorted(set(offenders))


def test_snapshot_cdf_streams_do_not_use_available_now():
    """The Python ``snapshot_cdf`` reader does not support
    ``trigger(availableNow=True)``: Spark falls back to one batch, and a
    restart whose checkpoint holds an uncommitted batch stops short of
    head. A function that starts a ``snapshot_cdf`` stream uses the
    default trigger and ``_helpers.drain`` instead."""
    import ast
    import pathlib

    import financial_data_warehouse_automation_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(ast.walk(fn))
            if any(
                isinstance(n, ast.Constant) and n.value == "snapshot_cdf"
                for n in nodes
            ) and any(
                isinstance(n, ast.keyword) and n.arg == "availableNow"
                for n in nodes
            ):
                offenders.append(f"{path.relative_to(root)}:{fn.name}")
    assert not offenders, offenders
