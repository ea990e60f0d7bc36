"""operators/snapshots.py — the manifest CAS, conflict, and expiry
protocol objects, exercised without Spark (pure filesystem), plus the
registered OCC query's end-to-end run at the test SF."""

from __future__ import annotations

import json
import os

import pytest

from financial_data_warehouse_automation_spark.operators.snapshots import (
    SnapshotConflict,
    expire_snapshots,
    latest_version,
    read_manifest,
    try_commit,
)


def _mkdata(table, name):
    d = os.path.join(table, name)
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("x")
    return d


def test_cas_publishes_and_conflicts(tmp_path):
    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    assert latest_version(table) == 0
    assert try_commit(table, 0, {"0": d1}) == 1
    assert latest_version(table) == 1
    assert read_manifest(table) == {"0": d1}
    # second writer against the same base loses atomically
    d2 = _mkdata(table, "b0-g2")
    assert try_commit(table, 1, {"0": d2}) == 2
    d3 = _mkdata(table, "b0-g2b")
    with pytest.raises(SnapshotConflict):
        try_commit(table, 1, {"0": d3})
    # the losing attempt must not have clobbered the winner
    assert read_manifest(table, 2) == {"0": d2}


def test_conflict_leaves_no_partial_manifest(tmp_path):
    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    try_commit(table, 0, {"0": d1})
    with open(os.path.join(table, "manifest-v1.json")) as f:
        winner_bytes = f.read()
    with pytest.raises(SnapshotConflict):
        try_commit(table, 0, {"0": "other"})
    with open(os.path.join(table, "manifest-v1.json")) as f:
        assert f.read() == winner_bytes  # byte-level intact


def test_expiry_gc_removes_only_unreferenced(tmp_path):
    table = str(tmp_path)
    shared = _mkdata(table, "shared-g1")
    old = _mkdata(table, "b1-g1")
    new = _mkdata(table, "b1-g2")
    try_commit(table, 0, {"0": shared, "1": old})
    try_commit(table, 1, {"0": shared, "1": new})
    removed_m, removed_d = expire_snapshots(table, keep_from=2)
    assert (removed_m, removed_d) == (1, 1)
    assert not os.path.exists(old)       # only v1 referenced it
    assert os.path.exists(shared)        # still referenced by v2
    assert os.path.exists(new)
    assert read_manifest(table) == {"0": shared, "1": new}
    with pytest.raises(FileNotFoundError):
        read_manifest(table, 1)


def test_expiry_clamps_keep_from_to_latest(tmp_path):
    """keep_from beyond head must clamp, not expire every manifest and
    then GC the whole table against an empty live set (r11 advisor,
    medium): the newest snapshot and its data always survive."""
    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    d2 = _mkdata(table, "b0-g2")
    try_commit(table, 0, {"0": d1})
    try_commit(table, 1, {"0": d2})
    removed_m, removed_d = expire_snapshots(table, keep_from=999)
    assert (removed_m, removed_d) == (1, 1)  # same effect as keep_from=2
    assert read_manifest(table) == {"0": d2}
    assert os.path.exists(d2)


def test_expiry_refuses_table_without_manifest(tmp_path):
    """No manifest at all -> ValueError, never 'live set is empty so
    delete every data directory'."""
    table = str(tmp_path)
    survivor = _mkdata(table, "b0-g1")
    with pytest.raises(ValueError, match="no manifest"):
        expire_snapshots(table, keep_from=1)
    assert os.path.exists(survivor)


def test_expiry_min_age_protects_staged_dirs(tmp_path):
    """An unreferenced-but-YOUNG directory is a concurrent writer's
    staged output, not garbage; min_age_s must exempt it (r11 advisor:
    GC racing a writer otherwise loses its uncommitted work). Aging the
    dir past the cutoff makes it collectable again."""
    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    try_commit(table, 0, {"0": d1})
    staged = _mkdata(table, "b0-staged")  # uncommitted writer output
    removed_m, removed_d = expire_snapshots(table, keep_from=1,
                                            min_age_s=3600)
    assert (removed_m, removed_d) == (0, 0)
    assert os.path.exists(staged)
    # simulate the writer having died long ago: age the dir out
    old = os.path.getmtime(staged) - 7200
    os.utime(staged, (old, old))
    _, removed_d = expire_snapshots(table, keep_from=1, min_age_s=3600)
    assert removed_d == 1
    assert not os.path.exists(staged)
    assert os.path.exists(d1)


def test_registered_occ_query_runs_green(spark, sf_dir):
    """The scripted interleaving's own asserts (conflict raised, rebase
    == latest, GC counts) must hold at the test SF; v3 carries both
    writers' effects (fewer rows than v1 via B's delete, more cents
    than would-be-pure-delete via A's +50)."""
    from financial_data_warehouse_automation_spark.registry import load_all

    rows = {
        r.snapshot: r
        for r in load_all()["orders_snapshot_concurrent_commit"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {"v1", "v2", "v3"}
    assert rows["v2"].n_orders == rows["v1"].n_orders  # A only updates
    assert rows["v2"].cents > rows["v1"].cents
    assert rows["v3"].n_orders < rows["v1"].n_orders   # B's delete landed


def test_warehouse_upsert_snapshot_merge_semantics(spark, sf_dir):
    """The MERGE-as-commit chain must show (a) v1 untouched old-only
    years, (b) v2's overlap year 1997 holding BOTH sources (the A2
    survivorship inside one COW bucket), (c) v3 = v2 minus exactly the
    quality-delete keys, confined to 1997."""
    from financial_data_warehouse_automation_spark.registry import load_all

    rows = (
        load_all()["warehouse_upsert_snapshot"]
        .builder(spark, sf_dir)
        .collect()
    )
    by = {(r.snapshot, r.year, r.src): r for r in rows}
    v1_srcs = {s for (tag, y, s) in by if tag == "v1"}
    assert v1_srcs == {"old"}
    srcs_1997_v2 = {s for (tag, y, s) in by if tag == "v2" and y == 1997}
    assert srcs_1997_v2 == {"old", "new"}  # merged bucket keeps both
    new_years_v2 = {y for (tag, y, s) in by if tag == "v2" and s == "new"}
    assert new_years_v2 == set(range(1997, 2002))
    # v3 differs from v2 only in 1997 (B's delete was scoped there)
    for (tag, y, s), r in by.items():
        if tag != "v2":
            continue
        r3 = by[("v3", y, s)]
        if y == 1997:
            assert r3.n_keys < r.n_keys
        else:
            assert (r3.n_keys, r3.cents) == (r.n_keys, r.cents)


def test_compaction_commit_preserves_content(spark, sf_dir):
    """OPTIMIZE-as-commit: both snapshots must aggregate identically —
    a maintenance job that changes content is a data-loss bug."""
    from financial_data_warehouse_automation_spark.registry import load_all

    rows = {
        r.snapshot: r
        for r in load_all()["orders_compaction_snapshot_commit"]
        .builder(spark, sf_dir)
        .collect()
    }
    a, b = rows["v1_fragmented"], rows["v2_compacted"]
    assert (a.n_rows, a.cents, a.n_customers) == (
        b.n_rows, b.cents, b.n_customers,
    )


def test_snapshot_changes_feed_is_typed_and_paired(spark, sf_dir):
    """CDF rows: only the three change kinds the CDC can produce, with
    pre/post images paired per updated key and no unchanged rows
    leaking through the bucket-level read."""
    from financial_data_warehouse_automation_spark.registry import load_all

    rows = (
        load_all()["orders_snapshot_changes"].builder(spark, sf_dir).collect()
    )
    kinds = {r.change_type for r in rows}
    assert kinds <= {"delete", "update_preimage", "update_postimage"}
    pre = {r.o_orderkey for r in rows if r.change_type == "update_preimage"}
    post = {r.o_orderkey for r in rows if r.change_type == "update_postimage"}
    assert pre == post and pre
    dels = {r.o_orderkey for r in rows if r.change_type == "delete"}
    assert dels.isdisjoint(pre)  # disjoint CDC ranges -> one kind per key
    # every postimage is exactly +100.00 over its preimage
    pre_cents = {
        r.o_orderkey: r.cents for r in rows
        if r.change_type == "update_preimage"
    }
    for r in rows:
        if r.change_type == "update_postimage":
            assert r.cents == pre_cents[r.o_orderkey] + 10000


def test_manifest_stats_prune_matches_full_scan(spark, sf_dir):
    """Pruned-read answer == full-scan answer over the same predicate
    (stats prune candidates; they never change the result)."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.registry import load_all
    from financial_data_warehouse_automation_spark.tables import load_table

    got = (
        load_all()["orders_manifest_stats_prune"]
        .builder(spark, sf_dir)
        .collect()[0]
    )
    o = load_table(spark, sf_dir, "orders")
    maxck = o.agg(F.max("o_custkey")).collect()[0][0]
    lo, hi = maxck // 3, maxck // 3 + max(1, maxck // 10)
    want = (
        o.where((F.col("o_custkey") >= lo) & (F.col("o_custkey") < hi))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .collect()[0]
    )
    assert tuple(got) == tuple(want)


def test_snapshot_commit_batch_replay_and_crash_recovery(spark, tmp_path):
    """The streaming commit protocol, driven by hand: two batches
    publish v1/v2; a replay of either batch id (even with DIFFERENT
    data) is a no-op; a simulated crash AFTER staging but BEFORE
    commit leaves an orphan dir that the replay overwrites and then
    commits — the at-least-once -> exactly-once contract."""
    import os

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        latest_version,
        read_manifest,
        read_manifest_meta,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_commit_batch,
    )

    table = str(tmp_path / "table")
    os.makedirs(table)
    fn = snapshot_commit_batch(table)
    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10, 15).selectExpr("id", "id * 2 AS v")

    fn(df1, 0)
    assert latest_version(table) == 1
    # crash sim: batch 1 stages but dies before commit
    df2.write.mode("overwrite").parquet(
        os.path.join(table, "stream-batch-1")
    )
    assert latest_version(table) == 1  # nothing published
    # replayed batch 1 overwrites the orphan stage and commits
    fn(df2, 1)
    assert latest_version(table) == 2
    mani = read_manifest(table)
    assert sorted(mani) == ["stream-b0", "stream-b1"]
    assert read_manifest_meta(table)["_txn"] == {"stream": 1}
    total = spark.read.parquet(*mani.values()).count()
    assert total == 15
    # replays (poisoned payloads) are byte-level no-ops
    before = sorted(os.listdir(table))
    fn(df1, 0)
    fn(spark.range(100).selectExpr("id", "id AS v"), 1)
    assert sorted(os.listdir(table)) == before
    assert spark.read.parquet(*read_manifest(table).values()).count() == 15


def test_snapshot_commit_batch_new_writer_is_not_dropped(spark, tmp_path):
    """The r12 advisor's data-loss hole: a NEW stream (fresh
    checkpoint, batch ids restarting at 0) against an existing table
    must APPEND under its own transaction-ledger entry — the old
    batch-id-only guard silently no-opped every one of its batches.
    Replays of EITHER writer stay no-ops (per-writer idempotence,
    Delta txnAppId/txnVersion semantics)."""
    import os

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_manifest_meta,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_commit_batch,
    )

    table = str(tmp_path / "table")
    os.makedirs(table)
    a = snapshot_commit_batch(table, writer_id="jobA")
    b = snapshot_commit_batch(table, writer_id="jobB")
    a(spark.range(10).selectExpr("id"), 0)
    a(spark.range(10, 15).selectExpr("id"), 1)
    # new writer, fresh checkpoint: batch 0 again — MUST land
    b(spark.range(100, 103).selectExpr("id"), 0)
    mani = read_manifest(table)
    assert sorted(mani) == ["jobA-b0", "jobA-b1", "jobB-b0"]
    assert read_manifest_meta(table)["_txn"] == {"jobA": 1, "jobB": 0}
    assert spark.read.parquet(*mani.values()).count() == 18
    # replays under each writer's own id are no-ops
    before = sorted(os.listdir(table))
    a(spark.range(500).selectExpr("id"), 0)
    b(spark.range(500).selectExpr("id"), 0)
    assert sorted(os.listdir(table)) == before
    assert spark.read.parquet(*read_manifest(table).values()).count() == 18


def test_snapshot_commit_batch_survives_maintenance_and_retention(
    spark, tmp_path
):
    """Table versions are decoupled from batch ids (r12 advisor): an
    interleaved MAINTENANCE commit (compaction-style rewrite) bumps
    the version chain, and retention expiring every historical
    manifest leaves only the latest — the next micro-batch must
    rebase on LATEST and commit cleanly (the old code read
    manifest-v<batch_id> and crashed with FileNotFoundError)."""
    import os

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        expire_snapshots,
        latest_version,
        read_manifest,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_commit_batch,
    )

    table = str(tmp_path / "table")
    os.makedirs(table)
    fn = snapshot_commit_batch(table)
    fn(spark.range(10).selectExpr("id"), 0)
    fn(spark.range(10, 15).selectExpr("id"), 1)
    # maintenance: compact both buckets into one dir, commit v3
    compact = os.path.join(table, "compacted-g1")
    spark.read.parquet(*read_manifest(table).values()).coalesce(1) \
        .write.parquet(compact)
    meta_keep = {"_txn": {"stream": 1}}  # maintenance preserves ledger
    assert try_commit(table, 2, {"c0": compact}, meta=meta_keep) == 3
    # retention: drop all history, keep only the latest
    expire_snapshots(table, keep_from=3)
    # next micro-batch rebases on latest and lands as v4
    fn(spark.range(15, 18).selectExpr("id"), 2)
    assert latest_version(table) == 4
    got = sorted(
        r.id for r in
        spark.read.parquet(*read_manifest(table).values()).collect()
    )
    assert got == list(range(18))
    # and a replay of that batch is still a no-op
    before = sorted(os.listdir(table))
    fn(spark.range(999).selectExpr("id"), 2)
    assert sorted(os.listdir(table)) == before


def test_incremental_mv_equals_direct_rebuild(spark, sf_dir):
    """The delta-maintained v2 MV must equal a direct group-by over the
    v2 content the builder committed — merge == rebuild for the
    update/delete (abelian group) case, checked independently of the
    DuckDB oracle."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.registry import load_all
    from financial_data_warehouse_automation_spark.tables import load_table

    rows = (
        load_all()["orders_snapshot_incremental_mv"]
        .builder(spark, sf_dir)
        .collect()
    )
    got_v2 = {
        r.o_orderpriority: (r.n_orders, r.cents)
        for r in rows
        if r.mv == "v2_incremental"
    }
    o = load_table(spark, sf_dir, "orders")
    maxck = o.agg(F.max("o_custkey")).collect()[0][0]
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(
        1, maxck // 50
    )
    upd = (F.col("o_custkey") >= upd_lo) & (F.col("o_custkey") < upd_hi)
    dele = (F.col("o_custkey") >= del_lo) & (F.col("o_custkey") < del_hi)
    want = {
        r.o_orderpriority: (r.n_orders, r.cents)
        for r in o.where(~dele)
        .withColumn(
            "p",
            F.when(upd, F.col("o_totalprice") + 100.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("p") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    }
    assert got_v2 == want


def test_wap_rejected_batch_is_invisible(spark, sf_dir):
    """The WAP demo's published v2 must contain the CLEAN injected rows
    only: v2 row delta == clean count (2/3 of the staged batch), and
    v2 cents exclude every poisoned row by construction."""
    from financial_data_warehouse_automation_spark.registry import load_all

    rows = {
        r.snapshot: r
        for r in load_all()["orders_wap_audit_publish"]
        .builder(spark, sf_dir)
        .collect()
    }
    added = rows["v2"].n_rows - rows["v1"].n_rows
    assert added > 0
    assert rows["v2"].cents > rows["v1"].cents


def test_expiry_keeps_partitioned_roots_with_live_subdirs(tmp_path):
    """GC liveness is prefix-based: a manifest that references
    SUBDIRECTORIES of a top-level entry (a partitioned write's root)
    must keep that root alive — identity matching deleted live data
    under it (caught by the r12 rollback demo). A fully-dead top-level
    dir is still reclaimed."""
    table = str(tmp_path)
    root = os.path.join(table, "g1")
    sub0 = os.path.join(root, "pb=0")
    sub1 = os.path.join(root, "pb=1")
    for d in (sub0, sub1):
        os.makedirs(d)
        open(os.path.join(d, "part-0.parquet"), "w").write("x")
    dead = _mkdata(table, "b0-g2")
    try_commit(table, 0, {"0": sub0, "1": sub1})
    try_commit(table, 1, {"0": sub0, "1": sub1})  # v2 drops nothing new
    removed_m, removed_d = expire_snapshots(table, keep_from=2)
    assert (removed_m, removed_d) == (1, 1)
    assert os.path.exists(sub0) and os.path.exists(sub1)
    assert not os.path.exists(dead)


def test_partition_spec_evolution_prunes_both_directions(spark, sf_dir):
    """Mixed-spec pruning must match the full scan in BOTH probe
    directions (the builder's dir-count asserts prove pruning
    happened; this pins answer identity against an independent
    full-table compute)."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.registry import load_all
    from financial_data_warehouse_automation_spark.tables import load_table

    got = {
        r.probe: (r.n_rows, r.cents)
        for r in load_all()["orders_partition_spec_evolution"]
        .builder(spark, sf_dir)
        .collect()
    }
    o = load_table(spark, sf_dir, "orders")
    maxck = o.agg(F.max("o_custkey")).collect()[0][0]
    lo, hi = maxck // 5, maxck // 5 + max(1, maxck // 15)

    def full(pred):
        r = o.where(pred).agg(
            F.count(F.lit(1)).cast("long"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint"),
        ).collect()[0]
        return (r[0], r[1])

    assert got["year_probe"] == full(F.year("o_orderdate") == 1999)
    assert got["ckey_probe"] == full(
        (F.col("o_custkey") >= lo) & (F.col("o_custkey") < hi)
    )


def test_as_of_version_resolution(tmp_path):
    """Timestamp -> version: between-commit instants resolve down,
    the commit instant itself is inclusive, after-head resolves to
    latest, pre-history raises. Instants come from the persisted
    ``_committed_at`` — rewriting every manifest's mtime (a copy or
    rsync that drops timestamps, the r12 advisor's scenario) must NOT
    move the time-travel history."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        as_of_version,
        manifest_path,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    d2 = _mkdata(table, "b0-g2")
    try_commit(table, 0, {"0": d1}, meta={"_committed_at": 100.0})
    try_commit(table, 1, {"0": d2}, meta={"_committed_at": 200.0})
    assert as_of_version(table, 150.0) == 1
    assert as_of_version(table, 100.0) == 1
    assert as_of_version(table, 200.0) == 2
    assert as_of_version(table, 1e9) == 2
    with pytest.raises(ValueError, match="no snapshot"):
        as_of_version(table, 50.0)
    # mtime rewrite (copy/restore) is invisible to resolution
    for v in (1, 2):
        os.utime(manifest_path(table, v), (5.0, 5.0))
    assert as_of_version(table, 150.0) == 1
    assert as_of_version(table, 1e9) == 2
    with pytest.raises(ValueError, match="no snapshot"):
        as_of_version(table, 50.0)


def test_as_of_legacy_manifest_falls_back_to_mtime(tmp_path):
    """Manifests written before ``_committed_at`` existed (plain
    bucket JSON) still time-travel via file mtime — the documented
    legacy path."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        as_of_version,
        manifest_path,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    with open(manifest_path(table, 1), "w") as f:
        json.dump({"0": d1}, f)  # legacy: no meta keys
    os.utime(manifest_path(table, 1), (100.0, 100.0))
    assert as_of_version(table, 150.0) == 1
    with pytest.raises(ValueError, match="no snapshot"):
        as_of_version(table, 50.0)


def test_manifest_meta_roundtrip_and_validation(tmp_path):
    """Commit metadata lives under ``_`` keys inside the manifest:
    read_manifest strips it (every returned value is a data dir),
    read_manifest_meta returns it, ``_committed_at`` is auto-stamped,
    and key-namespace violations fail loudly in both directions."""
    import time

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest_meta,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    t0 = time.time()
    try_commit(table, 0, {"0": d1}, meta={"_writer": "w1"})
    assert read_manifest(table) == {"0": d1}  # meta stripped
    meta = read_manifest_meta(table)
    assert meta["_writer"] == "w1"
    assert t0 <= meta["_committed_at"] <= time.time()
    with pytest.raises(ValueError, match="bucket ids"):
        try_commit(table, 1, {"_oops": d1})
    with pytest.raises(ValueError, match="meta keys"):
        try_commit(table, 1, {"0": d1}, meta={"writer": "w1"})


def test_expiry_liveness_survives_symlink_aliasing(tmp_path):
    """GC liveness canonicalizes BOTH sides with realpath (r12
    advisor, medium): a manifest whose recorded paths go through a
    symlink alias of the table dir must still protect the real data
    when GC is invoked on the real path — lexical normpath matching
    called the live dir dead and rmtree'd committed data."""
    real = tmp_path / "real"
    os.makedirs(real)
    alias = tmp_path / "alias"
    os.symlink(real, alias)
    table = str(real)
    live = _mkdata(str(alias), "b0-g1")   # recorded THROUGH the alias
    dead = _mkdata(table, "b0-g0")
    try_commit(table, 0, {"0": dead})
    try_commit(table, 1, {"0": live})     # v2 references alias path
    removed_m, removed_d = expire_snapshots(table, keep_from=2)
    assert removed_m == 1
    assert os.path.exists(os.path.join(table, "b0-g1")), \
        "live data deleted through symlink alias"
    assert not os.path.exists(dead)
    assert read_manifest(table) == {"0": live}


def test_expiry_liveness_survives_relative_invocation(tmp_path, monkeypatch):
    """Same canonicalization, relative-path direction: manifests
    record absolute dirs; invoking expire_snapshots with a RELATIVE
    table_dir (different-cwd maintenance job) must compare apples to
    apples."""
    table = str(tmp_path / "tbl")
    os.makedirs(table)
    live = _mkdata(table, "b0-g1")
    try_commit(table, 0, {"0": live})
    monkeypatch.chdir(tmp_path)
    removed_m, removed_d = expire_snapshots("tbl", keep_from=1)
    assert (removed_m, removed_d) == (0, 0)
    assert os.path.exists(live)


def test_plan_scan_composes_spec_stats_bloom(tmp_path):
    """The one scan planner: candidates must shrink layer by layer —
    spec prunes by each bucket's OWN transform, stats prune by
    observed bounds, Bloom prunes point keys — and a bucket missing
    from a sidecar is conservatively kept (false negatives never)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        bloom_positions,
        plan_scan,
        write_sidecar,
    )

    table = str(tmp_path)
    dirs = {str(b): _mkdata(table, f"b{b}") for b in range(4)}
    # stage-then-publish (r15: reads are manifest-authoritative, so
    # sidecars must be staged BEFORE the commit that publishes them)
    # spec: buckets 0/1 range-partitioned on k, 2 identity on year,
    # 3 undeclared (kept by every spec probe)
    write_sidecar(table, 1, "spec", {
        "0": {"column": "k", "lo": 0, "hi": 100},
        "1": {"column": "k", "lo": 100, "hi": 200},
        "2": {"column": "year", "value": 1999},
    })
    # stats: bucket 0's observed k range is narrower than its spec
    write_sidecar(table, 1, "stats", {
        "0": {"k": [40, 60]},
        "1": {"k": [100, 199]},
        "3": {"k": [500, 600]},
    })
    # bloom over point column pk: only bucket 1 contains pk=7
    m, kh = 1 << 12, 3
    words: dict[str, int] = {}
    for p in bloom_positions(7, kh, m):
        words[str(p // 32)] = words.get(str(p // 32), 0) | (1 << (p % 32))
    write_sidecar(table, 1, "bloom", {
        "column": "pk", "m": m, "k": kh,
        "buckets": {"0": {}, "1": words, "2": {}},  # 3 missing: kept
    })
    try_commit(table, 0, dirs)

    preds = [("range", "k", 90, 110), ("in", "pk", [7])]
    got, trace = plan_scan(table, preds, version=1, explain=True)
    assert trace["buckets"] == ["0", "1", "2", "3"]
    # spec: k-range [90,110) overlaps bucket 0 ([0,100)) and 1
    # ([100,200)); bucket 2's spec column (year) is unconstrained ->
    # kept; bucket 3 undeclared -> kept
    assert trace["after_spec"] == ["0", "1", "2", "3"]
    # stats: bucket 0 observed [40,60] misses [90,110) -> pruned;
    # bucket 3 observed [500,600] -> pruned; bucket 2 has no stats
    assert trace["after_stats"] == ["1", "2"]
    # bloom: pk=7 only in bucket 1's filter; bucket 2's empty filter
    # says definitely-absent -> pruned
    assert trace["after_bloom"] == ["1"]
    assert got == [dirs["1"]]

    # no predicates -> nothing prunes
    assert sorted(plan_scan(table, [], version=1)) == sorted(dirs.values())
    # a key no DECLARED filter holds: buckets 0/1/2 prune (their
    # filters prove absence), bucket 3 has no filter -> kept — missing
    # sidecar entries can cost I/O but never correctness
    assert plan_scan(table, [("in", "pk", [999])], version=1) == [dirs["3"]]


def test_read_snapshot_applies_deletion_vector(spark, tmp_path):
    """The ONE read path applies a version's equality-delete sidecar:
    v2 readers never see doomed keys even though v2's data files are
    byte-identical to v1's, pruning predicates compose with the DV,
    and versions without a sidecar are untouched."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
        write_sidecar,
    )

    table = str(tmp_path)
    d_lo = os.path.join(table, "lo")
    d_hi = os.path.join(table, "hi")
    spark.range(0, 10).selectExpr("id AS k", "id * 10 AS v") \
        .write.parquet(d_lo)
    spark.range(10, 20).selectExpr("id AS k", "id * 10 AS v") \
        .write.parquet(d_hi)
    mapping = {"lo": d_lo, "hi": d_hi}
    try_commit(table, 0, mapping)
    write_sidecar(table, 2, "deletes", {
        "column": "k", "buckets": {"lo": [3, 4], "hi": [15]},
    })
    try_commit(table, 1, dict(mapping))
    # stats let the pruning layer compose with the DV
    write_sidecar(table, 2, "stats", {
        "lo": {"k": [0, 9]}, "hi": {"k": [10, 19]},
    })

    v1 = sorted(r.k for r in read_snapshot(spark, table, version=1).collect())
    assert v1 == list(range(20))
    v2 = sorted(r.k for r in read_snapshot(spark, table, version=2).collect())
    assert v2 == [k for k in range(20) if k not in (3, 4, 15)]
    # predicate prunes to the lo bucket; its DV still applies
    got = sorted(
        r.k for r in read_snapshot(
            spark, table, predicates=[("range", "k", 0, 10)], version=2
        ).where("k < 10").collect()
    )
    assert got == [k for k in range(10) if k not in (3, 4)]


def test_read_snapshot_column_mapping_rename_and_add_column(spark, tmp_path):
    """Column-mapping read: rename rebinds a logical name to the same
    physical field (values unchanged), an added field null-fills
    buckets that predate it, and generations sharing a signature read
    as one group."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
        write_sidecar,
    )

    table = str(tmp_path)
    d_old = os.path.join(table, "old")
    d_new = os.path.join(table, "new")
    spark.range(0, 5).selectExpr("id AS f1", "id * 100 AS f2") \
        .write.parquet(d_old)
    spark.range(5, 8).selectExpr(
        "id AS f1", "id * 100 AS f2", "'P' AS f3"
    ).write.parquet(d_new)

    write_sidecar(table, 1, "schema", {
        "fields": {"k": "f1", "amount": "f2"},
        "buckets": {"old": ["f1", "f2"]},
    })
    try_commit(table, 0, {"old": d_old})
    write_sidecar(table, 2, "schema", {
        "fields": {"k": "f1", "total": "f2", "tag": "f3"},
        "buckets": {"old": ["f1", "f2"], "new": ["f1", "f2", "f3"]},
    })
    try_commit(table, 1, {"old": d_old, "new": d_new})

    v1 = read_snapshot(spark, table, version=1)
    assert v1.columns == ["k", "amount"]
    assert sorted(r.amount for r in v1.collect()) == [0, 100, 200, 300, 400]

    v2 = read_snapshot(spark, table, version=2)
    assert v2.columns == ["k", "total", "tag"]
    rows = {r.k: (r.total, r.tag) for r in v2.collect()}
    assert rows[2] == (200, None)        # old bucket: added field NULL
    assert rows[6] == (600, "P")         # new bucket carries it
    assert len(rows) == 8


def test_branch_protocol_isolation_and_gc(tmp_path):
    """Branch chains version independently of main, main's reads and
    retention never see branch work, branch-referenced dirs survive
    GC until drop_branch, and time travel resolves against main
    only."""
    import time as _time

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        as_of_version,
        create_branch,
        drop_branch,
        latest_version,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    try_commit(table, 0, {"0": d1}, meta={"_committed_at": 100.0})

    assert create_branch(table, "etl") == 1
    assert read_manifest(table, branch="etl") == {"0": d1}
    with pytest.raises(ValueError, match="already exists"):
        create_branch(table, "etl")
    with pytest.raises(ValueError, match="invalid branch name"):
        create_branch(table, "v2")
    with pytest.raises(ValueError, match="cannot create"):
        create_branch(table, "main")

    # branch commit: main's head and history are untouched
    d2 = _mkdata(table, "b0-etl")
    try_commit(table, 1, {"0": d2}, branch="etl",
               meta={"_committed_at": 200.0})
    assert latest_version(table) == 1
    assert latest_version(table, "etl") == 2
    assert read_manifest(table) == {"0": d1}
    # time travel never resolves into a branch
    assert as_of_version(table, 1e9) == 1

    # retention: main-only manifest expiry; branch dirs stay live
    removed_m, removed_d = expire_snapshots(table, keep_from=1)
    assert (removed_m, removed_d) == (0, 0)
    assert os.path.exists(d2)  # referenced only by the branch

    # drop the branch: its dirs become garbage, exactly them
    assert drop_branch(table, "etl") == 2
    _, removed_d = expire_snapshots(table, keep_from=1)
    assert removed_d == 1
    assert not os.path.exists(d2)
    assert os.path.exists(d1)
    with pytest.raises(ValueError, match="cannot drop"):
        drop_branch(table, "main")


def test_expiry_extra_live_fences_shallow_clones(tmp_path):
    """The shallow-clone GC fence: a dir dead to every manifest of
    THIS table but named in extra_live survives expiry; without the
    fence it is reclaimed."""
    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    d2 = _mkdata(table, "b0-g2")
    try_commit(table, 0, {"0": d1})
    try_commit(table, 1, {"0": d2})
    # d1 is dead to this table after keep_from=2, but a clone reads it
    _, removed_d = expire_snapshots(table, keep_from=2, extra_live={d1})
    assert removed_d == 0
    assert os.path.exists(d1)
    _, removed_d = expire_snapshots(table, keep_from=2)
    assert removed_d == 1
    assert not os.path.exists(d1)


def test_snapshot_state_commit_batch_folds_and_replays(spark, tmp_path):
    """The derived-state commit protocol: version N's state is a pure
    fold of batches 0..N-1; replays (any order, poisoned payloads)
    are no-ops BEFORE recompute; the ledger records the last folded
    batch."""
    import os

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        latest_version,
        read_manifest,
        read_manifest_meta,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_state_commit_batch,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)

    def merge(prev, batch):
        ups = batch.select("k", "v")
        if prev is None:
            return ups
        return prev.join(
            batch.select("k").distinct(), "k", "left_anti"
        ).unionByName(ups)

    fn = snapshot_state_commit_batch(table, merge, writer_id="w")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    b1 = spark.createDataFrame([(2, 25), (3, 30)], "k long, v long")
    fn(b0, 0)
    fn(b1, 1)
    state = {
        r.k: r.v
        for r in spark.read.parquet(
            *read_manifest(table).values()
        ).collect()
    }
    assert state == {1: 10, 2: 25, 3: 30}
    assert read_manifest_meta(table)["_txn"] == {"w": 1}
    # replays with poisoned payloads: byte-level no-ops
    before = sorted(os.listdir(table))
    poison = spark.createDataFrame([(9, 999)], "k long, v long")
    fn(poison, 0)
    fn(poison, 1)
    assert sorted(os.listdir(table)) == before
    assert latest_version(table) == 2


def test_state_folds_honor_deletion_vector_of_previous_state(spark, tmp_path):
    """Both streaming state folds read the previous state through
    read_snapshot at the version they fold against, so a key deleted
    by that version's deletion vector stays deleted in the next one
    instead of coming back from the raw bucket files."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_partitioned_state_commit_batch,
        snapshot_state_commit_batch,
    )

    def merge(prev, batch):
        ups = batch.select("k", "v")
        if prev is None:
            return ups
        return prev.join(
            batch.select("k").distinct(), "k", "left_anti"
        ).unionByName(ups)

    batch = spark.createDataFrame([(4, 40)], "k long, v long")

    # single-bucket state: v1 holds keys 1..3, its DV deletes key 2
    single = str(tmp_path / "single")
    os.makedirs(single)
    d1 = os.path.join(single, "state-v1")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    ).write.parquet(d1)
    try_commit(single, 0, {"state": d1}, sidecars={
        "deletes": {"column": "k", "buckets": {"state": [2]}},
    })
    snapshot_state_commit_batch(single, merge, writer_id="w")(batch, 0)
    got = sorted(r.k for r in read_snapshot(spark, single).collect())
    assert got == [1, 3, 4]

    # bucketed state (bucket = k % 2): the touched bucket's DV applies
    parted = str(tmp_path / "parted")
    os.makedirs(parted)
    buckets = {}
    for b, rows in {0: [(2, 20), (6, 60)], 1: [(1, 10), (3, 30)]}.items():
        d = os.path.join(parted, f"b{b}-g1")
        spark.createDataFrame(rows, "k long, v long").write.parquet(d)
        buckets[str(b)] = d
    try_commit(parted, 0, buckets, sidecars={
        "deletes": {"column": "k", "buckets": {"0": [2]}},
    })
    snapshot_partitioned_state_commit_batch(
        parted, merge, lambda df: (F.col("k") % 2).cast("int"),
        writer_id="w",
    )(batch, 0)
    got = sorted(r.k for r in read_snapshot(spark, parted).collect())
    assert got == [1, 3, 4, 6]


def test_table_history_reports_manifest_diffs(tmp_path):
    """table_history: oldest-first versions with commit meta and the
    added/removed/repointed diff per step; branch chains report
    separately from main."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        create_branch,
        table_history,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "b0-g1")
    d2 = _mkdata(table, "b0-g2")
    d3 = _mkdata(table, "b1-g1")
    try_commit(table, 0, {"0": d1}, meta={"_committed_at": 10.0,
                                          "_writer": "w1"})
    try_commit(table, 1, {"0": d2, "1": d3},
               meta={"_committed_at": 20.0, "_writer": "w2"})
    create_branch(table, "b")
    hist = table_history(table)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["writer"] == "w1" and hist[0]["added"] == ["0"]
    assert hist[1] == {
        "version": 2, "committed_at": 20.0, "writer": "w2",
        "meta": hist[1]["meta"], "n_buckets": 2,
        "added": ["1"], "removed": [], "repointed": ["0"],
    }
    bh = table_history(table, branch="b")
    assert [h["version"] for h in bh] == [1]
    assert bh[0]["added"] == ["0", "1"]  # branch v1 vs empty prefix


def test_deletion_vector_never_drops_null_keyed_rows(spark, tmp_path):
    """A key-based delete vector must not delete rows whose key is
    NULL (~NULL.isin(...) is NULL — a bare filter would silently drop
    them)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
        write_sidecar,
    )

    table = str(tmp_path)
    d = os.path.join(table, "b0")
    spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k long, v long"
    ).write.parquet(d)
    write_sidecar(table, 1, "deletes", {
        "column": "k", "buckets": {"b0": [3]},
    })
    try_commit(table, 0, {"b0": d})
    got = sorted(
        ((r.k, r.v) for r in read_snapshot(spark, table).collect()),
        key=lambda t: (t[0] is not None, t[0]),
    )
    assert got == [(None, 20), (1, 10)], got


# --------------------------------------------------------------------
# r14: sidecar carry-forward, branch-qualified sidecars, the unified
# reader, branch time travel + retention, and sidecar GC
# --------------------------------------------------------------------


def test_dv_sidecar_carries_forward_across_appends(spark, tmp_path):
    """THE r13 correctness trap, pinned closed: an unrelated append
    after a deletion-vector commit must NOT resurrect deleted rows —
    try_commit carries the vector forward for unchanged buckets; a
    later compaction that re-points the bucket folds (drops) it."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_sidecar,
        read_snapshot,
        try_commit,
        write_sidecar,
    )

    table = str(tmp_path)
    d0 = os.path.join(table, "b0")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    ).write.parquet(d0)
    try_commit(table, 0, {"b0": d0})

    # v2: merge-on-read DELETE of k=2 (zero rewrite)
    write_sidecar(table, 2, "deletes", {
        "column": "k", "buckets": {"b0": [2]},
    })
    try_commit(table, 1, {"b0": d0})
    assert sorted(
        r.k for r in read_snapshot(spark, table, version=2).collect()
    ) == [1, 3]

    # v3: an UNRELATED append that does NOT re-stage the vector —
    # before r14 this silently resurrected k=2
    d1 = os.path.join(table, "b1")
    spark.createDataFrame([(9, 90)], "k long, v long").write.parquet(d1)
    try_commit(table, 2, {"b0": d0, "b1": d1})
    assert read_sidecar(table, 3, "deletes") == {
        "column": "k", "buckets": {"b0": [2]},
    }
    assert sorted(
        r.k for r in read_snapshot(spark, table, version=3).collect()
    ) == [1, 3, 9]

    # v4: compaction re-points b0 (rewrite applies the vector) — the
    # carried entry DROPS with the re-point; no stale vector survives
    dc = os.path.join(table, "b0c")
    read_snapshot(spark, table, version=3).where("k < 9") \
        .coalesce(1).write.parquet(dc)
    try_commit(table, 3, {"b0": dc, "b1": d1})
    assert read_sidecar(table, 4, "deletes") is None
    assert sorted(
        r.k for r in read_snapshot(spark, table, version=4).collect()
    ) == [1, 3, 9]


def test_stats_carry_forward_and_drop_on_repoint(tmp_path):
    """Stats/spec carry for unchanged buckets (pruning survives an
    unrelated commit) and DROP for re-pointed buckets (stale bounds
    must never false-negative prune rewritten data)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_sidecar,
        write_sidecar,
    )

    table = str(tmp_path)
    da = _mkdata(table, "a-g1")
    db = _mkdata(table, "b-g1")
    write_sidecar(table, 1, "stats", {
        "a": {"k": [0, 10]}, "b": {"k": [100, 200]},
    })
    try_commit(table, 0, {"a": da, "b": db})

    # v2 re-points b, leaves a unchanged, stages nothing
    db2 = _mkdata(table, "b-g2")
    try_commit(table, 1, {"a": da, "b": db2})
    assert read_sidecar(table, 2, "stats") == {"a": {"k": [0, 10]}}

    # bucket a still prunes on carried stats; b (no stats) is kept
    # conservatively even though its OLD bounds would have excluded it
    dirs, tr = plan_scan(
        table, [("range", "k", 150, 160)], version=2, explain=True
    )
    assert tr["after_stats"] == ["b"]
    assert dirs == [db2]


def test_branch_sidecars_are_namespaced(spark, tmp_path):
    """A branch's sidecar files carry the branch infix: a DV staged on
    a branch at version N can never be applied to main's version N
    (the r13 advisor's collision), and a branch created from main
    INHERITS main's effective sidecars at the branch point."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        create_branch,
        read_sidecar,
        read_snapshot,
        sidecar_path,
        try_commit,
        write_sidecar,
    )

    table = str(tmp_path)
    d0 = os.path.join(table, "b0")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    ).write.parquet(d0)
    write_sidecar(table, 1, "deletes", {
        "column": "k", "buckets": {"b0": [3]},
    })
    try_commit(table, 0, {"b0": d0})

    assert sidecar_path(table, 2, "deletes", "wap") \
        != sidecar_path(table, 2, "deletes")

    # branch v1 inherits the branch point's vector
    create_branch(table, "wap")
    assert read_sidecar(table, 1, "deletes", "wap") == {
        "column": "k", "buckets": {"b0": [3]},
    }
    assert sorted(
        r.k
        for r in read_snapshot(spark, table, branch="wap").collect()
    ) == [1, 2]

    # a further DELETE on the branch stays on the branch
    write_sidecar(table, 2, "deletes", {
        "column": "k", "buckets": {"b0": [1]},
    }, branch="wap")
    try_commit(table, 1, {"b0": d0}, branch="wap")
    assert sorted(
        r.k
        for r in read_snapshot(spark, table, branch="wap").collect()
    ) == [2]
    # main's view (and main's version-2-to-be) is untouched
    assert read_sidecar(table, 2, "deletes") is None
    assert sorted(
        r.k for r in read_snapshot(spark, table).collect()
    ) == [1, 2]


def test_unified_reader_composes_pruning_mapping_and_dv(spark, tmp_path):
    """read_snapshot is ONE path: scan-planner pruning -> column-
    mapped read -> deletion-vector filter, on a table that has BOTH
    evolved its schema and taken a merge-on-read delete (the r13
    verdict's missing composition)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_snapshot,
        try_commit,
        write_sidecar,
    )

    table = str(tmp_path)
    d_lo = os.path.join(table, "lo")
    d_hi = os.path.join(table, "hi")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "f1 long, f2 long"
    ).write.parquet(d_lo)
    spark.createDataFrame(
        [(100, 1000, "x"), (101, 1010, "y")],
        "f1 long, f2 long, f3 string",
    ).write.parquet(d_hi)
    write_sidecar(table, 1, "schema", {
        "fields": {"k": "f1", "amount": "f2", "tag": "f3"},
        "buckets": {"lo": ["f1", "f2"], "hi": ["f1", "f2", "f3"]},
    })
    write_sidecar(table, 1, "stats", {
        "lo": {"k": [1, 2]}, "hi": {"k": [100, 101]},
    })
    write_sidecar(table, 1, "deletes", {
        "column": "k", "buckets": {"hi": [101]},
    })
    try_commit(table, 0, {"lo": d_lo, "hi": d_hi})

    # pruning: the k>=100 probe opens ONLY the hi bucket
    _, tr = plan_scan(
        table, [("range", "k", 100, 1000)], version=1, explain=True
    )
    assert tr["after_stats"] == ["hi"]

    df = read_snapshot(spark, table, [("range", "k", 100, 1000)])
    assert df.columns == ["k", "amount", "tag"]
    rows = [(r.k, r.amount, r.tag) for r in df.collect()]
    assert rows == [(100, 1000, "x")]  # 101 DV'd, lo pruned

    # unpruned read: mapping null-fills the old generation, DV holds
    full = {r.k: (r.amount, r.tag)
            for r in read_snapshot(spark, table).collect()}
    assert full == {1: (10, None), 2: (20, None), 100: (1000, "x")}

    # fully-pruned read keeps the MAPPED schema
    empty = read_snapshot(spark, table, [("range", "k", -10, -5)])
    assert empty.columns == ["k", "amount", "tag"]
    assert empty.count() == 0


def test_empty_manifest_read_raises_clear_error(spark, tmp_path):
    """A head commit with zero buckets reads as a clear ValueError,
    not StopIteration (r13 advisor)."""
    table = str(tmp_path)
    try_commit(table, 0, {})
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
    )

    with pytest.raises(ValueError, match="empty manifest"):
        read_snapshot(spark, table)


def test_expire_reclaims_sidecars_and_branch_retention(tmp_path):
    """Sidecars expire WITH their manifest; drop_branch removes branch
    sidecars; branch_keep_from trims a branch's history with the same
    clamp-to-head rail as main; and expiring main never breaks an
    unpromoted branch (r13 advisor metadata-leak finding + the r13
    verdict's task 4)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        create_branch,
        drop_branch,
        read_manifest,
        read_sidecar,
        write_sidecar,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    d2 = _mkdata(table, "g2")
    d3 = _mkdata(table, "g3")
    write_sidecar(table, 1, "stats", {"0": {"k": [0, 1]}})
    try_commit(table, 0, {"0": d1})
    create_branch(table, "wip")                       # branch at v1
    db = _mkdata(table, "wip-g2")
    try_commit(table, 1, {"0": db}, branch="wip")     # wip v2
    db2 = _mkdata(table, "wip-g3")
    try_commit(table, 2, {"0": db2}, branch="wip")    # wip v3
    try_commit(table, 1, {"0": d2})                   # main v2
    try_commit(table, 2, {"0": d3})                   # main v3

    # expire main below v3: main's old sidecars go with the manifests
    assert read_sidecar(table, 1, "stats") == {"0": {"k": [0, 1]}}
    expire_snapshots(table, keep_from=3)
    assert not [
        n for n in os.listdir(table) if n.startswith("stats-v1")
    ]  # both staged and published (token-named) forms reclaimed
    assert read_sidecar(table, 3, "stats") == {}  or \
        read_sidecar(table, 3, "stats") is None
    # the unpromoted branch's history fully survives main's retention
    assert read_manifest(table, 1, "wip") == {"0": d1}
    assert read_manifest(table, 3, "wip") == {"0": db2}
    assert os.path.isdir(d1)  # still referenced by wip v1

    # per-branch retention: trim wip below its head (clamped)
    expire_snapshots(table, keep_from=3,
                     branch_keep_from={"wip": 99})
    assert latest_version(table, "wip") == 3
    with pytest.raises(FileNotFoundError):
        read_manifest(table, 1, "wip")
    with pytest.raises(ValueError):
        expire_snapshots(table, keep_from=3,
                         branch_keep_from={"main": 1})

    # drop_branch reclaims the branch's manifests AND sidecars
    write_sidecar(table, 3, "stats", {"0": {"k": [5, 9]}}, branch="wip")
    drop_branch(table, "wip")
    assert latest_version(table, "wip") == 0
    assert not os.path.exists(
        os.path.join(table, "stats-wip-v3.json")
    )


def test_conflict_cleans_up_carried_sidecar_files(tmp_path):
    """A loser's carry-forward staging is removed with its failed CAS:
    the files try_commit CREATED for the never-published version do
    not linger as garbage (and are not read by a later real commit of
    that version number)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        SnapshotConflict as _SC,
    )
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_sidecar,
        write_sidecar,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    write_sidecar(table, 1, "stats", {"0": {"k": [0, 1]}})
    try_commit(table, 0, {"0": d1})
    # winner publishes v2 resetting metadata (no sidecars)
    d2 = _mkdata(table, "g2")
    try_commit(table, 1, {"0": d2}, carry_sidecars=False)
    assert read_sidecar(table, 2, "stats") is None
    # loser on base v1: carry stages stats-v2, CAS fails, file removed
    with pytest.raises(_SC):
        try_commit(table, 1, {"0": d1})
    assert read_sidecar(table, 2, "stats") is None


def test_branch_as_of_version(tmp_path):
    """Time travel resolves against a branch's OWN history (r14):
    each ref has its own snapshot log."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        as_of_version,
        create_branch,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    try_commit(table, 0, {"0": d1}, meta={"_committed_at": 100.0})
    create_branch(table, "wap")
    # branch v1 inherits no instant from main: stamp explicit ones
    d2 = _mkdata(table, "g2")
    try_commit(table, 1, {"0": d2}, branch="wap",
               meta={"_committed_at": 300.0})
    d3 = _mkdata(table, "g3")
    try_commit(table, 2, {"0": d3}, branch="wap",
               meta={"_committed_at": 500.0})

    assert as_of_version(table, 400.0, branch="wap") == 2
    assert as_of_version(table, 600.0, branch="wap") == 3
    assert as_of_version(table, 1e9) == 1  # main's log is its own
    with pytest.raises(ValueError, match="wap"):
        as_of_version(table, 1.0, branch="wap")


def test_deletion_vector_is_bucket_scoped(spark, tmp_path):
    """The DV is scoped per bucket (Iceberg sequence-number analogue):
    a key deleted from bucket X must NOT delete the same key living in
    bucket Y — the property that makes the merge-on-read UPDATE
    (DV old keys + post-image bucket, one commit) expressible."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
    )

    table = str(tmp_path)
    d_old = os.path.join(table, "old")
    d_post = os.path.join(table, "post")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).write.parquet(d_old)
    spark.createDataFrame([(2, 99)], "k long, v long") \
        .write.parquet(d_post)
    try_commit(
        table, 0, {"old": d_old, "post": d_post},
        sidecars={"deletes": {"column": "k", "buckets": {"old": [2]}}},
    )
    got = sorted(
        (r.k, r.v) for r in read_snapshot(spark, table).collect()
    )
    assert got == [(1, 10), (2, 99)], got  # post-image survives


def test_check_constraints_single_pass_and_null_semantics(spark):
    """check_constraints: all checks in ONE aggregation pass; NULL
    results count as violations (a bare WHERE would pass them); clean
    frames pass silently."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        CommitCheckViolation,
        check_constraints,
    )

    good = spark.createDataFrame([(1, 5.0), (2, 7.5)], "k long, p double")
    check_constraints(good, {"pos": "p > 0", "key": "k IS NOT NULL"})

    bad = spark.createDataFrame(
        [(1, 5.0), (2, None), (None, -1.0)], "k long, p double"
    )
    with pytest.raises(CommitCheckViolation) as ei:
        check_constraints(bad, {"pos": "p > 0", "key": "k IS NOT NULL"})
    msg = str(ei.value)
    # p=None is a NULL check result -> violation; p=-1 -> violation
    assert "pos (2 rows)" in msg and "key (1 rows)" in msg, msg


def test_partitioned_state_commit_repoints_only_touched(spark, tmp_path):
    """The partitioned derived-state fold: untouched buckets carry the
    IDENTICAL directory string across versions (zero-copy sharing), a
    bucket whose merged content comes back empty is REMOVED from the
    manifest (no resurrection via a stale mapping), and replays are
    byte-level no-ops."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        latest_version,
        read_manifest,
        read_manifest_meta,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_partitioned_state_commit_batch,
    )
    from pyspark.sql import functions as F

    table = str(tmp_path / "t")
    os.makedirs(table)

    def bucket_of(df):
        return (F.col("k") % 2).cast("int")

    def merge(prev, batch):
        ups = batch.where(F.col("op") != "delete").select("k", "v")
        if prev is None:
            return ups
        return prev.join(
            batch.select("k").distinct(), "k", "left_anti"
        ).unionByName(ups)

    fn = snapshot_partitioned_state_commit_batch(
        table, merge, bucket_of, writer_id="w"
    )
    # batch 0: keys 1,3 -> bucket 1; keys 2,4 -> bucket 0
    b0 = spark.createDataFrame(
        [(1, 10, "insert"), (2, 20, "insert"),
         (3, 30, "insert"), (4, 40, "insert")],
        "k long, v long, op string",
    )
    fn(b0, 0)
    v1 = read_manifest(table)
    assert sorted(v1) == ["0", "1"]

    # batch 1 touches only bucket 1 (odd keys): bucket 0 must be the
    # same directory string in v2 — shared, not copied
    b1 = spark.createDataFrame(
        [(3, 35, "update_postimage")], "k long, v long, op string"
    )
    fn(b1, 1)
    v2 = read_manifest(table)
    assert v2["0"] == v1["0"]
    assert v2["1"] != v1["1"]
    state = {
        r.k: r.v
        for r in spark.read.parquet(*v2.values()).collect()
    }
    assert state == {1: 10, 2: 20, 3: 35, 4: 40}

    # batch 2 deletes EVERY key of bucket 0: the bucket must drop out
    # of the manifest, not keep pointing at its old directory
    b2 = spark.createDataFrame(
        [(2, 0, "delete"), (4, 0, "delete")], "k long, v long, op string"
    )
    fn(b2, 2)
    v3 = read_manifest(table)
    assert sorted(v3) == ["1"]
    assert {
        r.k for r in spark.read.parquet(*v3.values()).collect()
    } == {1, 3}

    # replays: byte-level no-ops before any recompute
    before = sorted(os.listdir(table))
    fn(b1, 1)
    fn(b2, 2)
    assert sorted(os.listdir(table)) == before
    assert latest_version(table) == 3
    assert read_manifest_meta(table)["_txn"] == {"w": 2}


def test_filestats_prune_and_carry(tmp_path):
    """File-grain planning: only files whose bounds survive the
    predicates are read paths; a file with an EMPTY stats entry is
    conservatively kept; the sidecar carries forward for unchanged
    buckets like every per-bucket kind."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_sidecar,
        write_sidecar,
    )

    table = str(tmp_path)
    d = _mkdata(table, "b0")
    for f in ("part-0.parquet", "part-1.parquet", "part-2.parquet"):
        open(os.path.join(d, f), "w").write("x")
    write_sidecar(table, 1, "filestats", {"b0": {
        "part-0.parquet": {"k": [0, 9]},
        "part-1.parquet": {"k": [10, 19]},
        "part-2.parquet": {},  # no footer stats: always kept
    }})
    try_commit(table, 0, {"b0": d})

    got, tr = plan_scan(table, [("range", "k", 12, 15)],
                        version=1, explain=True)
    assert tr["files_total"] == 3 and tr["files_kept"] == 2, tr
    assert got == [os.path.join(d, "part-1.parquet"),
                   os.path.join(d, "part-2.parquet")], got
    # no predicates: every file kept, paths not collapsed to the dir
    assert len(plan_scan(table, [], version=1)) == 3

    # carry-forward: an unrelated commit inherits the file bounds for
    # the unchanged bucket
    d2 = _mkdata(table, "b1")
    try_commit(table, 1, {"b0": d, "b1": d2})
    side = read_sidecar(table, 2, "filestats")
    assert side == {"b0": {
        "part-0.parquet": {"k": [0, 9]},
        "part-1.parquet": {"k": [10, 19]},
        "part-2.parquet": {},
    }}, side
    got2 = plan_scan(table, [("range", "k", 12, 15)], version=2)
    assert got2 == [os.path.join(d, "part-1.parquet"),
                    os.path.join(d, "part-2.parquet"), d2], got2


def test_crashed_writer_staging_never_adopted(tmp_path):
    """The r14 verdict's task 1a, pinned: writer A stages a delete
    vector for version N+1 and DIES (simulated: the staging file is
    on disk but no live writer's registry owns it). Writer B's commit
    of N+1 must provably NOT inherit A's delete keys — it refuses
    with a clear error until B either removes the orphan or stages
    its own intent explicitly."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        _STAGED,
        _staged_key,
        read_sidecar,
        sidecar_path,
        write_sidecar,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    try_commit(table, 0, {"0": d1})

    # writer A stages a DV for v2 ... and the process "dies": the
    # file survives, the in-memory ownership does not
    write_sidecar(table, 2, "deletes", {
        "column": "k", "buckets": {"0": [1, 2, 3]},
    })
    _STAGED.pop(_staged_key(table, 2, "deletes", "main"))

    # writer B commits v2 knowing nothing of A: refused, not adopted
    d2 = _mkdata(table, "g2")
    with pytest.raises(ValueError, match="orphaned staged sidecar"):
        try_commit(table, 1, {"0": d1, "1": d2})
    assert latest_version(table) == 1  # nothing published

    # B resolves the orphan (removes it) and commits: no DV leaks in
    os.remove(sidecar_path(table, 2, "deletes"))
    assert try_commit(table, 1, {"0": d1, "1": d2}) == 2
    assert read_sidecar(table, 2, "deletes") is None


def test_cas_loser_cannot_delete_winners_published_sidecar(tmp_path):
    """The r14 advisor's TOCTOU, pinned: the winner publishes v2 WITH
    a delete vector; a loser racing for v2 with its own metadata must
    fail WITHOUT touching the winner's published files (token-named
    sidecars make the loser's cleanup provably its own)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_sidecar,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    try_commit(table, 0, {"0": d1})
    dv = {"column": "k", "buckets": {"0": [7]}}
    try_commit(table, 1, {"0": d1}, sidecars={"deletes": dv})
    assert read_sidecar(table, 2, "deletes") == dv

    # loser on the same base, with its own staged metadata
    with pytest.raises(SnapshotConflict):
        try_commit(table, 1, {"0": d1}, sidecars={
            "stats": {"0": {"k": [0, 9]}},
            "deletes": {"column": "k", "buckets": {"0": [99]}},
        })
    # the winner's published vector is byte-for-byte intact
    assert read_sidecar(table, 2, "deletes") == dv
    assert read_sidecar(table, 2, "stats") is None


def test_expire_sweeps_orphaned_sidecars(tmp_path):
    """The r15 advisor's reclamation finding, pinned: (a) a token
    file no surviving manifest references and (b) a dead writer's
    staging below the retention horizon are both swept; (c) staging
    for a version ABOVE head (an in-flight writer) survives."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_sidecar,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    d2 = _mkdata(table, "g2")
    d3 = _mkdata(table, "g3")
    try_commit(table, 0, {"0": d1})
    try_commit(table, 1, {"0": d2},
               sidecars={"stats": {"0": {"k": [0, 9]}}})
    try_commit(table, 2, {"0": d2, "1": d3})  # "0" unchanged: carries

    # (a) an unreferenced token file at a published version (a CAS
    # loser that crashed before its own cleanup)
    orphan_tok = os.path.join(table, "deletes-v2.deadbeefdeadbeef.json")
    with open(orphan_tok, "w") as f:
        json.dump({"column": "k", "buckets": {"0": [1]}}, f)
    # (b) a dead writer's deterministic staging for an EXPIRED version
    orphan_stage = os.path.join(table, "bloom-v1.json")
    with open(orphan_stage, "w") as f:
        json.dump({"column": "k", "m": 8, "k": 1, "buckets": {}}, f)
    # (c) in-flight staging for head+1
    inflight = os.path.join(table, "stats-v4.json")
    with open(inflight, "w") as f:
        json.dump({"0": {"k": [0, 1]}}, f)

    expire_snapshots(table, keep_from=2)
    assert not os.path.exists(orphan_tok)
    assert not os.path.exists(orphan_stage)
    assert os.path.exists(inflight)
    # the carried, referenced stats of v2/v3 are untouched
    assert read_sidecar(table, 3, "stats") == {"0": {"k": [0, 9]}}


def test_partitioned_fold_refolds_on_same_bucket_conflict(
    spark, tmp_path
):
    """The r14 verdict's task 1b, pinned: while writer A's fold is
    in flight, a concurrent commit re-points one of the SAME buckets
    A read. A must detect it, DISCARD the stale fold, and re-merge
    against the new state — both effects survive, and the merge
    provably ran twice."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        try_commit as _tc,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_partitioned_state_commit_batch,
    )
    from pyspark.sql import functions as F

    table = str(tmp_path / "t")
    os.makedirs(table)
    # v1: bucket 0 holds keys {0: 10.0, 2: 20.0}
    b0 = os.path.join(table, "seed-b0")
    spark.createDataFrame(
        [(0, 10.0), (2, 20.0)], "key bigint, value double"
    ).write.parquet(b0)
    _tc(table, 0, {"0": b0})

    calls = {"n": 0}

    def merge(prev, batch):
        calls["n"] += 1
        if calls["n"] == 1:
            # the deterministic interleaving: AFTER this fold read
            # prev, a rival commits a new image of the SAME bucket
            # (key 2 bumped to 99.0)
            rb = os.path.join(table, "rival-b0")
            spark.createDataFrame(
                [(0, 10.0), (2, 99.0)], "key bigint, value double"
            ).write.parquet(rb)
            _tc(table, 1, {"0": rb})
        src = batch.select("key", "value")
        if prev is not None:
            src = prev.select("key", "value").unionByName(src)
        # keep-last by key: the batch row wins over prev
        return (
            src.withColumn(
                "rn",
                F.row_number().over(
                    __import__("pyspark").sql.Window
                    .partitionBy("key").orderBy(F.monotonically_increasing_id())
                ),
            )
            .groupBy("key").agg(F.last("value").alias("value"))
        )

    fn = snapshot_partitioned_state_commit_batch(
        table, merge, lambda df: F.lit(0), writer_id="w"
    )
    batch = spark.createDataFrame(
        [(5, 50.0)], "key bigint, value double"
    )
    fn(batch, 0)

    assert calls["n"] == 2, "stale fold must be re-run, not committed"
    final = {
        r.key: r.value
        for r in spark.read.parquet(
            *read_manifest(table).values()
        ).collect()
    }
    # both the rival's bump (2 -> 99) AND our batch row survive
    assert final == {0: 10.0, 2: 99.0, 5: 50.0}, final


def test_state_fold_refolds_on_conflict(spark, tmp_path):
    """The single-bucket twin of the partitioned re-fold test: a rival
    commits a new state after the fold read the old one. The sink must
    discard the stale fold, merge again against the rival's state, and
    stage the re-fold under a fresh directory; both effects survive."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_state_commit_batch,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    seed = os.path.join(table, "seed-state")
    spark.createDataFrame(
        [(0, 10.0), (2, 20.0)], "key bigint, value double"
    ).write.parquet(seed)
    try_commit(table, 0, {"state": seed})

    calls = {"n": 0}
    staged_first = os.path.join(table, "w-state-0")

    def merge(prev, batch):
        calls["n"] += 1
        if calls["n"] == 1:
            # after this fold read prev, a rival bumps key 2 to 99.0
            rival = os.path.join(table, "rival-state")
            spark.createDataFrame(
                [(0, 10.0), (2, 99.0)], "key bigint, value double"
            ).write.parquet(rival)
            try_commit(table, 1, {"state": rival})
        ups = batch.select("key", "value")
        return prev.join(ups.select("key"), "key", "left_anti") \
            .unionByName(ups)

    fn = snapshot_state_commit_batch(table, merge, writer_id="w")
    fn(spark.createDataFrame([(5, 50.0)], "key bigint, value double"), 0)

    assert calls["n"] == 2, "stale fold must be re-run, not committed"
    assert read_manifest(table)["state"] != staged_first
    final = {r.key: r.value for r in read_snapshot(spark, table).collect()}
    assert final == {0: 10.0, 2: 99.0, 5: 50.0}, final


def test_dv_read_plan_bounded_across_many_buckets(spark, tmp_path):
    """The r14 verdict's task 2, pinned: deletion vectors spread
    across 120 buckets read as ONE broadcast anti-join — no Union
    branch per DV'd bucket (the r14 shape), so plan size is O(1) in
    DV'd-bucket count. Values exact, NULL-keyed rows survive."""
    import contextlib
    import io

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
    )
    from pyspark.sql import functions as F

    table = str(tmp_path / "t")
    os.makedirs(table)
    n_b = 120
    rows = [
        (b * 10 + j, b, float(j)) for b in range(n_b) for j in range(5)
    ] + [(None, 7, 42.0)]  # a NULL-keyed row in a DV'd bucket
    root = os.path.join(table, "g1")
    spark.createDataFrame(
        rows, "key bigint, pb int, v double"
    ).repartition(8).write.partitionBy("pb").parquet(root)
    mapping = {
        str(b): os.path.join(root, f"pb={b}") for b in range(n_b)
    }
    # every bucket carries a vector: keys j=0,1 die in each
    dv = {
        "column": "key",
        "buckets": {str(b): [b * 10, b * 10 + 1] for b in range(n_b)},
    }
    try_commit(table, 0, mapping, sidecars={"deletes": dv})

    df = read_snapshot(spark, table)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Union" not in plan, "per-DV'd-bucket plan branches are back"
    # one anti-join, and a plan whose size does not scale with the
    # 120 DV'd buckets (the r14 shape produced 120 branches)
    assert plan.count("BroadcastHashJoin LeftAnti") == 1, plan
    assert len(plan) < 20_000, len(plan)

    got = {r.key for r in df.collect()}
    want = {b * 10 + j for b in range(n_b) for j in (2, 3, 4)} | {None}
    assert got == want
    assert df.count() == n_b * 3 + 1  # NULL-keyed row survived


def test_sortorder_sidecar_carries_and_drops(tmp_path):
    """Sort-order metadata (r15): carried for unchanged buckets,
    DROPPED for re-pointed ones — a rewritten bucket's layout is only
    what its rewriter declares, never the predecessor's."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        table_sort_order,
    )

    table = str(tmp_path)
    d1 = _mkdata(table, "g1")
    d2 = _mkdata(table, "g2")
    so = {"0": [["k", "asc"], ["seq", "asc"]]}
    try_commit(table, 0, {"0": d1}, sidecars={"sortorder": so})
    assert table_sort_order(table, 1) == so

    # unrelated append: bucket 0 unchanged -> order carries
    try_commit(table, 1, {"0": d1, "1": d2})
    assert table_sort_order(table, 2) == so

    # compaction re-points bucket 0 without declaring an order:
    # the stale declaration must NOT survive
    d3 = _mkdata(table, "g3")
    try_commit(table, 2, {"0": d3, "1": d2})
    assert table_sort_order(table, 3) is None


# --------------------------------------------------------------------
# sources/cdfsource.py: the snapshot_cdf change feed
# --------------------------------------------------------------------


def _cdf_rows(spark, table, tmp_path, **options):
    """Every change row the snapshot_cdf feed of ``table`` emits from
    ``startversion`` to head, drained in one micro-batch."""
    from financial_data_warehouse_automation_spark.queries._helpers import drain
    from financial_data_warehouse_automation_spark.sources.cdfsource import (
        SnapshotCDFDataSource,
    )

    spark.dataSource.register(SnapshotCDFDataSource)
    reader = spark.readStream.format("snapshot_cdf").option("path", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    out = str(tmp_path / "feed_out")
    drain(
        reader.load().writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "feed_ckpt"))
        .start()
    )
    return spark.read.parquet(out)


def _diff(pre: dict, post: dict, version: int) -> set:
    """Change rows of one commit from its key -> row images."""
    out = set()
    for k in set(pre) | set(post):
        if k not in post:
            out.add((version, "delete", *pre[k]))
        elif k not in pre:
            out.add((version, "insert", *post[k]))
        elif pre[k] != post[k]:
            out.add((version, "update_preimage", *pre[k]))
            out.add((version, "update_postimage", *post[k]))
    return out


def test_cdf_feed_with_timestamps_equals_snapshot_diff(spark, tmp_path):
    """A Spark-written timestamp column (INT96, read by pyarrow at
    nanoseconds) feeds at its own values and type. The commit's
    update, delete and insert rows — one bucket rewritten, another
    DV'd — equal a diff of read_snapshot's pre- and post-image."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
    )

    import datetime as dt

    table = str(tmp_path / "t")
    cols = "k long, ts timestamp, v double"

    def write(name, rows):
        d = os.path.join(table, name)
        spark.createDataFrame(rows, cols).write.parquet(d)
        return d

    t0 = dt.datetime(2024, 1, 31, 23, 59, 59, 123456)
    base = [(k, t0 + dt.timedelta(days=k), k * 1.5) for k in range(10)]
    b0, b1 = write("b0-g1", base[:5]), write("b1-g1", base[5:])
    try_commit(table, 0, {"b0": b0, "b1": b1})
    b0_g2 = write("b0-g2", [
        base[0],
        (1, t0 + dt.timedelta(hours=7), 1.5),  # update: ts only
        base[3], base[4],                        # 2 deleted
        (11, t0, 99.0),                          # insert
    ])
    try_commit(
        table, 1, {"b0": b0_g2, "b1": b1},
        sidecars={"deletes": {"column": "k", "buckets": {"b1": [7]}}},
    )

    feed = _cdf_rows(spark, table, tmp_path, keycol="k")
    assert feed.columns == ["commit_version", "change_type", "k", "ts", "v"]
    assert dict(feed.dtypes)["ts"] == "timestamp"
    got = [tuple(r) for r in feed.collect()]

    def image(version):
        return {
            r.k: tuple(r)
            for r in read_snapshot(spark, table, version=version).collect()
        }

    want = _diff(image(1), image(2), 2)
    assert len(got) == len(set(got)) == len(want) == 5
    assert set(got) == want


def test_cdf_startversion_zero_bootstraps_inserts(spark, tmp_path):
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
    )

    table = str(tmp_path / "t")
    dirs = {}
    for b in range(3):
        dirs[str(b)] = os.path.join(table, f"b{b}")
        spark.range(b * 10, b * 10 + 10).selectExpr(
            "id AS k", "CAST(id AS STRING) AS s"
        ).write.parquet(dirs[str(b)])
    try_commit(table, 0, dirs)

    got = sorted(
        tuple(r) for r in _cdf_rows(
            spark, table, tmp_path, keycol="k", startversion=0
        ).collect()
    )
    want = sorted(
        (1, "insert", r.k, r.s) for r in read_snapshot(spark, table).collect()
    )
    assert got == want and len(got) == 30


def test_cdf_null_key_raises(spark, tmp_path):
    """NULL-keyed rows cannot be diffed by key: reading the bucket
    fails and names the file instead of collapsing those rows into
    one change row."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        try_commit,
    )
    from financial_data_warehouse_automation_spark.sources.cdfsource import (
        SnapshotCDFStreamReader,
    )

    table = str(tmp_path)
    d = os.path.join(table, "b0")
    spark.createDataFrame(
        [(1, 10), (None, 20), (None, 30)], "k long, v long"
    ).coalesce(1).write.parquet(d)
    try_commit(table, 0, {"b0": d})

    reader = SnapshotCDFStreamReader({"path": table, "keycol": "k"})
    (part,) = reader.partitions({"version": 0}, {"version": 1})
    with pytest.raises(ValueError, match=r"b0/part-.*NULL"):
        list(reader.read(part))


def test_cdf_expired_start_manifest_raises_retention_error(spark, tmp_path):
    from financial_data_warehouse_automation_spark.sources.cdfsource import (
        SnapshotCDFStreamReader,
    )

    table = str(tmp_path)
    for v in range(3):
        d = os.path.join(table, f"g{v}")
        spark.range(v, v + 3).selectExpr("id AS k").write.parquet(d)
        try_commit(table, v, {"b0": d})
    expire_snapshots(table, keep_from=3)

    reader = SnapshotCDFStreamReader({"path": table, "keycol": "k"})
    with pytest.raises(ValueError, match=r"manifest-v1\.json .*retention"):
        reader.partitions({"version": 1}, {"version": 3})


def test_cdf_drain_reaches_head_after_uncommitted_batch(spark, tmp_path):
    """A subscription restarted from a checkpoint whose last batch was
    planned but never committed re-runs that batch, then goes on to the
    table's head. ``trigger(availableNow=True)`` cannot do this for the
    Python ``snapshot_cdf`` reader: Spark falls back to one batch and
    stops after the re-run."""
    from financial_data_warehouse_automation_spark.queries._helpers import drain
    from financial_data_warehouse_automation_spark.sources.cdfsource import (
        SnapshotCDFDataSource,
    )

    table = str(tmp_path / "t")
    mapping = {}

    def commit(version):
        d = os.path.join(table, f"g{version}")
        spark.range(version * 5, version * 5 + 5).selectExpr(
            "id AS k", "id * 10 AS v"
        ).write.parquet(d)
        mapping[str(version)] = d
        assert try_commit(table, version - 1, dict(mapping)) == version

    spark.dataSource.register(SnapshotCDFDataSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def subscribe():
        return (
            spark.readStream.format("snapshot_cdf")
            .option("path", table).option("keycol", "k")
            .option("startversion", 0).load()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .start()
        )

    commit(1)
    drain(subscribe())
    commit(2)
    drain(subscribe())
    # crash after the last batch was planned, before it was committed
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    commit(3)
    drain(subscribe())
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == list(range(5, 20)), got
