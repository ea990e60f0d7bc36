"""Snapshot-store demos: versioned manifests over immutable bucket
directories, exercised end to end through ``operators/snapshots.py``.

Copy-on-write reads and time travel, optimistic concurrent commits and
expiry GC, compaction under MVCC, the change data feed and incremental
MV maintenance, manifest stats / Bloom / file-grain pruning,
write-audit-publish, rollback, multi-table commits, partition-spec and
schema evolution, deletion vectors and merge-on-read updates, branches,
shallow clones, commit history, as-of time travel, commit-time CHECK
constraints and concurrent same-bucket merges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_data_warehouse_automation_spark.functions.scalars import md5_prefix_int
from financial_data_warehouse_automation_spark.queries._helpers import (
    assert_multiset_equal,
    cow_rewrite,
    drain,
    price_cdc,
    range_bucket,
    seed_bucketed,
)
from financial_data_warehouse_automation_spark.queries.relational import (
    _parquet_parts,
    compact_parquet_dir,
)
from financial_data_warehouse_automation_spark.registry import query
from financial_data_warehouse_automation_spark.tables import load_table


@query(
    "orders_snapshot_cow_read",
    tags=("layout", "snapshot", "time-travel", "cow", "maintenance"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
v1 AS (
  SELECT CAST('v1' AS VARCHAR) AS snapshot,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders
),
v2 AS (
  SELECT CAST('v2' AS VARCHAR) AS snapshot,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(
           CASE WHEN o_custkey >= m.mx // 4
                 AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
                THEN o_totalprice + 100.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders, m
  WHERE NOT (o_custkey >= (3 * m.mx) // 5
             AND o_custkey < (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2 ORDER BY snapshot
""",
)
def orders_snapshot_cow_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT ISOLATION + TIME TRAVEL over plain parquet — the
    lakehouse primitive (Delta/Iceberg's core) the maintenance family
    was still missing next to compaction, schema evolution, Z-layout
    and DPP: immutable data files + a tiny versioned MANIFEST naming
    each snapshot's file set, with updates applied COPY-ON-WRITE so
    old snapshots stay readable forever at zero storage cost beyond
    the rewritten buckets.

    Mechanics, all demonstrated and asserted in-builder:

    - v1 write: orders range-bucketed into 8 directories by customer
      key; manifest v1 lists all 8.
    - CDC batch (deterministic, oracle-replayable off MAX(o_custkey)):
      a +100 price UPDATE for one narrow customer range and a DELETE
      for another. Touched buckets are computed from the same range
      math the layout used, so the rewrite touches <= 4 of 8 bucket
      dirs (asserted); every other v2 manifest entry is v1's
      directory VERBATIM (asserted) — that reuse is what makes a
      petabyte table's daily snapshot cost MBs, not a rewrite.
    - Isolation: the v1 aggregate is collected BEFORE the v2 write
      and re-collected from the v1 manifest AFTER it; the rows must
      be identical (asserted driver-side) — readers of an old
      snapshot never see a concurrent writer, because nothing they
      reference is ever mutated.
    - Time travel: the returned frame reads BOTH manifests and
      aggregates them side by side; the oracle recomputes v1 from raw
      orders and v2 by replaying the same CDC predicate arithmetic in
      SQL — file-set versioning must change WHICH rows are visible,
      never their values.

    At 100 TB: manifests are the scale story — O(files) metadata
    instead of directory listings, snapshot expiry = dropping a
    manifest + unreferenced-file GC (the rowsink's _SUCCESS manifest
    is this same idea on the egress side), and the bucket math here
    is any partition/clustering scheme there. This demo has one
    writer; concurrent-writer commit arbitration (Delta's optimistic
    log) is orders_snapshot_concurrent_commit's subject."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapcow_demo_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_custkey").alias("ckey"),
    )
    # v1: one directory per customer-range bucket, manifest lists them
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map) == 1

    def agg(version: int, tag: str) -> DataFrame:
        return read_snapshot(spark, table, version=version).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.countDistinct("ckey").cast("long").alias("n_customers"),
        ).select(F.lit(tag).alias("snapshot"), "n_orders", "cents",
                 "n_customers")

    v1_rows_before = agg(1, "v1").collect()

    # CDC batch: update one narrow customer range, delete another —
    # the same integer window arithmetic the oracle replays
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    touched = sorted(
        {bucket_of(c) for c in (upd_lo, upd_hi - 1, del_lo, del_hi - 1)}
    )
    assert len(touched) <= 4, touched

    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)
    v2_map = cow_rewrite(
        spark, table, 1, touched, price_cdc(upd, dele), "g2"
    )
    assert try_commit(table, 1, v2_map) == 2

    # COW reuse: untouched buckets are shared verbatim between manifests
    shared = [b for b in v1_map if v2_map[b] == v1_map[b]]
    assert len(shared) == len(v1_map) - len(touched) and shared, (shared,
                                                                 touched)
    # isolation: v1 read through its manifest is unchanged by v2's write
    v1_rows_after = agg(1, "v1").collect()
    assert v1_rows_before == v1_rows_after, (v1_rows_before, v1_rows_after)

    return agg(1, "v1").unionByName(agg(2, "v2"))


@query(
    "orders_snapshot_concurrent_commit",
    tags=("layout", "snapshot", "occ", "cow", "maintenance"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
v1 AS (
  SELECT CAST('v1' AS VARCHAR) AS snapshot,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
),
v2 AS (
  SELECT CAST('v2' AS VARCHAR) AS snapshot,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(
           CASE WHEN o_custkey >= m.mx // 8
                 AND o_custkey <  m.mx // 8 + GREATEST(1, m.mx // 25)
                THEN o_totalprice + 50.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS BIGINT) AS cents
  FROM orders, m
),
v3 AS (
  SELECT CAST('v3' AS VARCHAR) AS snapshot,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(
           CASE WHEN o_custkey >= m.mx // 8
                 AND o_custkey <  m.mx // 8 + GREATEST(1, m.mx // 25)
                THEN o_totalprice + 50.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS BIGINT) AS cents
  FROM orders, m
  WHERE NOT (o_custkey >= (7 * m.mx) // 10
             AND o_custkey < (7 * m.mx) // 10 + GREATEST(1, m.mx // 40))
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
ORDER BY snapshot
""",
)
def orders_snapshot_concurrent_commit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMISTIC CONCURRENT COMMIT — the multi-writer half of the
    snapshot story orders_snapshot_cow_read scopes out (its contract
    is single-writer): two writers race to publish against the same
    base snapshot, the loser detects the conflict through the
    manifest CAS and REBASES, and the final chain carries BOTH
    changes — Delta/Iceberg's optimistic commit loop, demonstrated
    with a deterministic scripted interleaving (which is how
    concurrency protocols are demonstrated honestly: the RACE is
    nondeterministic, the protocol's response to every interleaving
    is not).

    Scripted interleaving over operators/snapshots.py:

    1. v1 = orders in 8 immutable customer-range bucket dirs;
       manifest published through try_commit(base=0).
    2. Writer A (price +50 on one customer range) and writer B
       (delete another range) BOTH read v1.
    3. A publishes v2 via try_commit(base=1) — wins.
    4. B, still on base v1, calls try_commit(base=1) → the atomic
       create-if-absent fails → SnapshotConflict (asserted raised).
    5. B rebases: re-reads latest (v2 — which includes A's rewritten
       bucket), re-applies ITS delete on top of v2's current
       directories, publishes v3 via try_commit(base=2). Lost-update
       anomaly avoided by construction: had B overwritten blindly, A's
       update to any shared bucket would vanish.
    6. expire_snapshots(keep_from=2) then drops v1 and garbage-
       collects exactly the directories no retained manifest
       references — v1's superseded pre-images AND B's orphaned
       stale-attempt staging dirs (each set computed directly and
       asserted gone); v2/v3 reads still work (asserted).

    The oracle replays all three snapshots from raw orders (v2 = +A,
    v3 = +A+B), so the versioned read surface — not just the
    mechanics — is hash-certified. Update and delete ranges are
    chosen off MAX(o_custkey) to OVERLAP in bucket space sometimes
    and not others across SFs; correctness never depends on which,
    because rebase re-reads whatever the latest manifest says. At
    100 TB: the CAS is the store's conditional-put, commit cost is
    one manifest create regardless of table size, and retention
    (keep_from) bounds both time-travel depth and storage — the
    module docstring carries the posture."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        SnapshotConflict,
        expire_snapshots,
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapocc_demo_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_custkey").alias("ckey"),
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map) == 1

    upd_lo, upd_hi = maxck // 8, maxck // 8 + max(1, maxck // 25)
    del_lo, del_hi = (7 * maxck) // 10, (7 * maxck) // 10 + max(
        1, maxck // 40
    )
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)

    # both writers read base v1
    b_base = read_manifest(table, 1)

    # writer A: +50 price on its range, COW over its touched buckets
    a_map = cow_rewrite(
        spark, table, 1,
        sorted({bucket_of(upd_lo), bucket_of(upd_hi - 1)}),
        price_cdc(upd, bump=50.0), "g2",
    )
    assert try_commit(table, 1, a_map) == 2

    # writer B: delete its range — FIRST attempt against the stale base
    def b_rewrite(version, gen):
        return cow_rewrite(
            spark, table, version,
            sorted({bucket_of(del_lo), bucket_of(del_hi - 1)}),
            lambda df: df.where(~dele), gen,
        )

    stale_map = b_rewrite(1, "g2b")  # staged against the stale base
    conflicted = False
    try:
        try_commit(table, 1, stale_map)
    except SnapshotConflict:
        conflicted = True
    assert conflicted, "stale-base commit must conflict, not clobber"

    # rebase: re-read latest (carries A's update), re-apply, commit v3
    latest = read_manifest(table)
    assert latest == a_map, "latest must be A's v2"
    assert try_commit(table, 2, b_rewrite(2, "g3")) == 3

    def agg(version: int, tag: str) -> DataFrame:
        return (
            read_snapshot(spark, table, version=version)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(tag).alias("snapshot"), "n_orders", "cents")
        )

    result = (
        agg(1, "v1").unionByName(agg(2, "v2")).unionByName(agg(3, "v3"))
        .orderBy("snapshot")
    )
    rows = result.collect()  # materialize all three BEFORE expiry

    # retention: drop v1, GC everything no retained manifest references —
    # computed DIRECTLY (r11 advisor: the old 'superseded in v2 OR v3'
    # proxy over-counted v1 dirs still live via v2 and only balanced by
    # accident while the writers' ranges hit disjoint buckets): the
    # expected removals are (a) v1 dirs referenced by neither the v2 nor
    # the v3 manifest, plus (b) B's pre-rebase staged dirs, orphaned the
    # moment its stale commit lost the CAS.
    removed_m, removed_d = expire_snapshots(table, keep_from=2)
    assert removed_m == 1, removed_m
    v3_map = read_manifest(table, 3)
    retained = {os.path.basename(p) for p in a_map.values()} | {
        os.path.basename(p) for p in v3_map.values()
    }
    dead_v1 = {
        os.path.basename(p) for p in v1_map.values()
    } - retained
    g2b_orphans = {
        os.path.basename(p)
        for k, p in stale_map.items()
        if p != b_base[k]
    } - retained
    expected_gone = dead_v1 | g2b_orphans
    assert removed_d == len(expected_gone), (removed_d, expected_gone)
    assert not any(
        os.path.exists(os.path.join(table, n)) for n in expected_gone
    ), expected_gone
    assert agg(2, "v2").collect() and agg(3, "v3").collect()

    return spark.createDataFrame(rows, result.schema)


@query(
    "orders_compaction_snapshot_commit",
    tags=("layout", "maintenance", "compaction", "snapshot", "occ"),
    oracle="""
SELECT CAST('v1_fragmented' AS VARCHAR) AS snapshot,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
UNION ALL
SELECT 'v2_compacted', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
FROM orders
ORDER BY snapshot
""",
)
def orders_compaction_snapshot_commit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPACTION AS A COMMITTED SNAPSHOT OPERATION — the two r11
    capabilities composed (r11 verdict task 4): orders_compaction_rewrite
    rewrites a directory in place, but real table maintenance runs
    OPTIMIZE as an optimistic commit so readers of the current snapshot
    are never disturbed and the fragmented pre-image is reclaimed only
    by retention. Delta OPTIMIZE / Iceberg rewrite_data_files work
    exactly this way: data-identical rewrite + new snapshot + vacuum.

    Script (asserted in-builder; CONTENT certified by the oracle
    emitting identical aggregates for both snapshots — the invariant a
    maintenance job must never break):

    1. v1 — orders in 4 customer-range buckets, each deliberately
       FRAGMENTED 16 ways (the shape streaming appends leave); manifest
       v1 published via the CAS.
    2. OPTIMIZE — each bucket compacted by the size-measured
       compact_parquet_dir into a NEW directory (copy-on-write, never
       in place), published as v2 via try_commit(base=1). File count
       drops from 64 to the size-derived target (asserted).
    3. Isolation — v1's aggregate, collected before the rewrite, equals
       the v1-manifest re-read AFTER the v2 commit (asserted): a reader
       holding the old snapshot never observes maintenance.
    4. Retention — expire_snapshots(keep_from=2) GCs exactly the 4
       fragmented bucket dirs (asserted), after the returned rows are
       materialized; v2 reads survive (asserted).

    At 100 TB: compaction runs per-partition with the cluster's
    preferred file size, the commit is still one manifest create, and
    a compaction that races a data writer simply loses the CAS and
    rebases onto the new head — same loop as any writer."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        expire_snapshots,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_buckets, n_frag = 4, 16
    table = scratch_dir("snapcompact_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    maxck = o.agg(F.max("o_custkey").alias("m")).collect()[0].m
    fb = F.least(
        F.lit(n_buckets - 1),
        F.floor(F.col("o_custkey") * n_buckets / (maxck + 1)),
    ).cast("int")
    base = o.withColumn("fb", fb)

    # The per-bucket jobs in this demo are independent; overlapping
    # them from a small driver pool back-fills the tail of one job
    # with the next (guide §2.6) — the fragmentation construction
    # itself (exactly n_frag files per bucket via per-bucket
    # repartition) is the demo's subject and stays per-bucket. Each
    # thread runs under the caller's job group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    in_group = inheritable_thread_target(spark)

    def frag_write(b: int) -> tuple[str, str]:
        d = os.path.join(table, f"b{b}-frag")
        base.where(F.col("fb") == b).drop("fb").repartition(
            n_frag
        ).write.mode("overwrite").parquet(d)
        assert len(_parquet_parts(d)) == n_frag, d
        return str(b), d

    with ThreadPoolExecutor(max_workers=2) as pool:
        v1_map = dict(pool.map(in_group(frag_write), range(n_buckets)))
    assert try_commit(table, 0, v1_map) == 1

    def agg(version: int, tag: str) -> DataFrame:
        return (
            read_snapshot(spark, table, version=version)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
                F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            )
            .select(F.lit(tag).alias("snapshot"), "n_rows", "cents",
                    "n_customers")
        )

    v1_before = agg(1, "v1_fragmented").collect()

    # OPTIMIZE: copy-on-write compaction of every bucket, one commit;
    # bucket compactions are independent maintenance jobs — overlapped
    # from the same small pool (guide §2.6)
    def compact_one(b: int) -> tuple[str, str, int, int]:
        src, dst = v1_map[str(b)], os.path.join(table, f"b{b}-compact")
        n_src = len(_parquet_parts(src))
        n_dst = compact_parquet_dir(spark, src, dst)
        return str(b), dst, n_src, n_dst

    with ThreadPoolExecutor(max_workers=2) as pool:
        compacted = list(pool.map(in_group(compact_one), range(n_buckets)))
    v2_map = {b: dst for b, dst, _, _ in compacted}
    frag_total = sum(n for _, _, n, _ in compacted)
    comp_total = sum(n for _, _, _, n in compacted)
    assert try_commit(table, 1, v2_map) == 2
    assert comp_total < frag_total, (comp_total, frag_total)

    # isolation: the pre-maintenance snapshot is untouched by OPTIMIZE
    assert agg(1, "v1_fragmented").collect() == v1_before

    result = agg(1, "v1_fragmented").unionByName(
        agg(2, "v2_compacted")
    ).orderBy("snapshot")
    rows = result.collect()  # materialize BEFORE retention reclaims v1

    removed_m, removed_d = expire_snapshots(table, keep_from=2)
    assert (removed_m, removed_d) == (1, n_buckets), (removed_m, removed_d)
    assert not any(os.path.exists(p) for p in v1_map.values())
    assert agg(2, "v2_compacted").collect()  # current snapshot survives

    return spark.createDataFrame(rows, result.schema)


@query(
    "orders_snapshot_changes",
    tags=("snapshot", "cdc", "cdf", "time-travel", "cow"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
upd AS (
  SELECT o_orderkey, o_totalprice FROM orders, m
  WHERE o_custkey >= m.mx // 4
    AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
), del AS (
  SELECT o_orderkey, o_totalprice FROM orders, m
  WHERE o_custkey >= (3 * m.mx) // 5
    AND o_custkey <  (3 * m.mx) // 5 + GREATEST(1, m.mx // 50)
)
SELECT CAST('delete' AS VARCHAR) AS change_type, o_orderkey,
       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM del
UNION ALL
SELECT 'update_preimage', o_orderkey,
       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
FROM upd
UNION ALL
SELECT 'update_postimage', o_orderkey,
       CAST(ROUND((o_totalprice + 100.0) * 100, 0) AS BIGINT)
FROM upd
ORDER BY o_orderkey, change_type
""",
)
def orders_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between two snapshots (Delta CDF /
    ``table_changes``, Iceberg changelog scan): given the v1 -> v2
    copy-on-write commit, emit every row-level change as
    delete / update_preimage / update_postimage rows — WITHOUT the
    writer having logged anything beyond the two manifests.

    The scale property is the point: the manifest DIFF names the
    buckets whose directories changed (asserted <= 4 of 8 here), so
    the feed is computed by reading ONLY those buckets' pre- and
    post-image dirs and full-outer-joining on the key — cost
    proportional to the CHANGED data, never the table. A 100 TB table
    whose daily commit touches 0.1% of its buckets yields its CDF for
    0.1% of a scan; the join key shuffle is bounded by the changed
    buckets' rows, and unchanged rows inside changed buckets drop out
    of the join's inequality filter.

    Builder: v1 = orders in 8 custkey-range buckets (one partitioned
    write); v2 = the cow_read CDC (+100 price on one narrow range,
    delete another — asserted disjoint, so each key yields one change
    kind); feed = manifest-diff -> pre/post full-outer join ->
    explode into typed change rows. The oracle replays the same CDC
    predicates over raw orders, certifying the feed row-for-row
    (exact integer cents)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapcdf_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map) == 1

    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    assert upd_hi <= del_lo, "CDC ranges must be disjoint for typed rows"
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)

    touched = sorted(
        set(range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1))
        | set(range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1))
    )
    assert len(touched) <= 4, touched
    v2_map = cow_rewrite(
        spark, table, 1, touched, price_cdc(upd, dele), "g2"
    )
    assert try_commit(table, 1, v2_map) == 2

    # the feed reads ONLY the buckets the manifest diff names
    changed = [b for b in v1_map if v2_map[b] != v1_map[b]]
    assert sorted(int(b) for b in changed) == touched, changed
    pre = read_snapshot(spark, table, version=1, buckets=changed).select(
        "o_orderkey", F.col("o_totalprice").alias("p_old")
    )
    post = read_snapshot(spark, table, version=2, buckets=changed).select(
        "o_orderkey", F.col("o_totalprice").alias("p_new")
    )
    cents_old = F.round(F.col("p_old") * 100, 0).cast("bigint")
    cents_new = F.round(F.col("p_new") * 100, 0).cast("bigint")
    j = pre.join(post, "o_orderkey", "full_outer")
    feed = j.select(
        "o_orderkey",
        F.explode(
            F.when(
                F.col("p_new").isNull(),
                F.array(
                    F.struct(
                        F.lit("delete").alias("change_type"),
                        cents_old.alias("cents"),
                    )
                ),
            )
            .when(
                F.col("p_old").isNull(),
                F.array(
                    F.struct(
                        F.lit("insert").alias("change_type"),
                        cents_new.alias("cents"),
                    )
                ),
            )
            .when(
                F.col("p_old") != F.col("p_new"),
                F.array(
                    F.struct(
                        F.lit("update_preimage").alias("change_type"),
                        cents_old.alias("cents"),
                    ),
                    F.struct(
                        F.lit("update_postimage").alias("change_type"),
                        cents_new.alias("cents"),
                    ),
                ),
            )
            .otherwise(
                F.array().cast(
                    "array<struct<change_type:string,cents:bigint>>"
                )
            )
        ).alias("c"),
    )
    return feed.select(
        F.col("c.change_type").alias("change_type"),
        "o_orderkey",
        F.col("c.cents").alias("cents"),
    )


@query(
    "orders_manifest_stats_prune",
    tags=("snapshot", "layout", "skipping", "stats", "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders, m
WHERE o_custkey >= m.mx // 3
  AND o_custkey <  m.mx // 3 + GREATEST(1, m.mx // 10)
""",
)
def orders_manifest_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-LEVEL STATS PRUNING — data skipping one layer ABOVE
    parquet footers: the snapshot manifest carries per-bucket min/max
    key stats in a sidecar, and the reader prunes whole BUCKET
    DIRECTORIES from the plan before any file is listed or any footer
    opened. This is Delta's per-file stats in the transaction log /
    Iceberg's manifest-entry bounds; orders_sorted_fileskip proved the
    footer layer, this proves the metadata layer that makes a 100 TB
    table's planning cost O(candidate buckets) instead of O(files) —
    the reader consults a KB-scale JSON, not the object store.

    Builder: orders in 8 custkey-range buckets (one partitioned
    write); a grouped min/max per bucket (8 rows, driver-side) lands
    in stats-v1.json next to manifest-v1.json, both named by the
    version so the stats are as immutable as the snapshot. The probe
    predicate (a ~10%-of-keyspace range off MAX(o_custkey)) selects
    candidate buckets by [min,max] overlap — asserted both fewer than
    the table's 8 AND exactly the set the bucket arithmetic predicts —
    then only those dirs are read, with the residual row filter
    applied on top (stats prune candidates; they never replace the
    predicate). The oracle runs the same range over raw orders: a
    pruned read must be invisible in the answer."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_snapshot,
        try_commit,
        write_sidecar,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_buckets = 8
    table = scratch_dir("snapstats_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table, n_buckets)
    # per-bucket key bounds: one grouped agg, 8 rows of driver-side
    # metadata — the write path already scanned this data, a real
    # writer folds the same bounds out of its write tasks for free
    bounds = {
        str(r.pb): (r.lo, r.hi)
        for r in o.withColumn("pb", range_bucket("ckey", n_buckets, maxck))
        .groupBy("pb")
        .agg(F.min("ckey").alias("lo"), F.max("ckey").alias("hi"))
        .collect()
    }
    write_sidecar(
        table, 1, "stats", {b: {"ckey": list(bounds[b])} for b in v1_map}
    )
    assert try_commit(table, 0, v1_map) == 1

    lo, hi = maxck // 3, maxck // 3 + max(1, maxck // 10)

    # reader: the shared scan planner (r13) — manifest + stats sidecar
    # -> candidate dirs, no listing of non-candidates, no footer reads
    # anywhere; the explain trace certifies pruning happened HERE
    preds = [("range", "ckey", lo, hi)]
    _, trace = plan_scan(table, preds, version=1, explain=True)
    cand = trace["after_stats"]
    expected = {str(bucket_of(c)) for c in (lo, hi - 1)}
    assert set(cand) <= {str(b) for b in range(n_buckets)}
    assert len(cand) < n_buckets, cand
    assert expected <= set(cand), (expected, cand)

    return (
        read_snapshot(spark, table, preds, version=1)
        .where((F.col("ckey") >= lo) & (F.col("ckey") < hi))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.countDistinct("ckey").cast("long").alias("n_customers"),
        )
    )


@query(
    "orders_snapshot_incremental_mv",
    tags=("snapshot", "cdc", "mv", "incremental", "cdf"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
SELECT CAST('v1_base' AS VARCHAR) AS mv, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'v2_incremental', o_orderpriority, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(
         CASE WHEN o_custkey >= m.mx // 4
               AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
              THEN o_totalprice + 100.0 ELSE o_totalprice END * 100, 0)
         AS BIGINT)) AS BIGINT)
FROM orders, m
WHERE NOT (o_custkey >= (3 * m.mx) // 5
           AND o_custkey < (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
GROUP BY o_orderpriority
ORDER BY mv, o_orderpriority
""",
)
def orders_snapshot_incremental_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE DRIVEN BY THE CHANGE
    FEED — the capstone composition of the CDF capability: a stored
    aggregate (orders per priority) is refreshed across the v1 -> v2
    snapshot commit by applying SIGNED DELTAS derived from the
    manifest-diff change feed, never rescanning the table —
    delete / update_preimage contribute (-1, -cents) partials,
    update_postimage (+1, +cents), and one re-reduce folds them into
    the stored MV. mv_incremental_refresh proved monoid-merge over
    APPEND-only deltas; this proves the general case: updates and
    deletes, because (count, cents) is an abelian GROUP, not just a
    monoid — subtraction is well-defined, so any CDC stream maintains
    the MV exactly.

    The refresh cost is the scale story: O(changed buckets) to read
    the feed (<= 4 of 8 dirs here, asserted) + a shuffle keyed on the
    MV grain over the DELTA rows only. A 100 TB table's daily MV
    refresh costs its daily churn. The oracle recomputes the v2 MV
    from scratch by replaying the CDC arithmetic over raw orders:
    equality of the incrementally-maintained rows against the full
    rebuild IS the maintenance-correctness proof, certified row-level
    in exact integer cents alongside the v1 base the deltas were
    applied to."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapimv_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.col("o_custkey").alias("ckey"),
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map) == 1

    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")

    def mv_over(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("cents"),
        )

    # the stored MV, computed once over snapshot v1
    base_mv = mv_over(read_snapshot(spark, table, version=1))

    # v2: same CDC as the change-feed demo (+100 on one range, delete
    # another), copy-on-write over the touched buckets
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)
    touched = sorted(
        set(range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1))
        | set(range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1))
    )
    v2_map = cow_rewrite(
        spark, table, 1, touched, price_cdc(upd, dele), "g2"
    )
    assert try_commit(table, 1, v2_map) == 2

    # change feed from the manifest diff (changed buckets only)
    changed = [b for b in v1_map if v2_map[b] != v1_map[b]]
    assert 0 < len(changed) <= 4, changed
    cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
    pre = read_snapshot(spark, table, version=1, buckets=changed).select(
        cols[0],
        F.col("o_orderpriority").alias("pri_old"),
        F.col("o_totalprice").alias("p_old"),
    )
    post = read_snapshot(spark, table, version=2, buckets=changed).select(
        cols[0],
        F.col("o_orderpriority").alias("pri_new"),
        F.col("o_totalprice").alias("p_new"),
    )
    j = pre.join(post, "o_orderkey", "full_outer")
    sign_cents_old = F.round(F.col("p_old") * 100, 0).cast("bigint")
    sign_cents_new = F.round(F.col("p_new") * 100, 0).cast("bigint")
    delta = (
        j.select(
            F.explode(
                F.when(
                    F.col("p_new").isNull(),  # delete: retract
                    F.array(
                        F.struct(
                            F.col("pri_old").alias("o_orderpriority"),
                            F.lit(-1).cast("long").alias("dn"),
                            (-sign_cents_old).alias("dc"),
                        )
                    ),
                )
                .when(
                    F.col("p_old").isNull(),  # insert: add
                    F.array(
                        F.struct(
                            F.col("pri_new").alias("o_orderpriority"),
                            F.lit(1).cast("long").alias("dn"),
                            sign_cents_new.alias("dc"),
                        )
                    ),
                )
                .when(
                    F.col("p_old") != F.col("p_new"),  # update: retract+add
                    F.array(
                        F.struct(
                            F.col("pri_old").alias("o_orderpriority"),
                            F.lit(-1).cast("long").alias("dn"),
                            (-sign_cents_old).alias("dc"),
                        ),
                        F.struct(
                            F.col("pri_new").alias("o_orderpriority"),
                            F.lit(1).cast("long").alias("dn"),
                            sign_cents_new.alias("dc"),
                        ),
                    ),
                )
                .otherwise(
                    F.array().cast(
                        "array<struct<o_orderpriority:string,"
                        "dn:bigint,dc:bigint>>"
                    )
                )
            ).alias("d")
        )
        .select("d.o_orderpriority", "d.dn", "d.dc")
        .groupBy("o_orderpriority")
        .agg(F.sum("dn").alias("n_orders"), F.sum("dc").alias("cents"))
    )

    # refresh = base MV + signed delta, one re-reduce on the MV grain
    mv2 = (
        base_mv.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .where(F.col("n_orders") > 0)
    )

    def tag(df: DataFrame, t: str) -> DataFrame:
        return df.select(
            F.lit(t).alias("mv"), "o_orderpriority", "n_orders", "cents"
        )

    return (
        tag(base_mv, "v1_base")
        .unionByName(tag(mv2, "v2_incremental"))
    )


@query(
    "orders_wap_audit_publish",
    tags=("snapshot", "wap", "quality", "quarantine", "occ"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
inj AS (
  SELECT o_orderkey + 2000000000 AS o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE o_totalprice END AS o_totalprice
  FROM orders, m
  WHERE o_custkey >= m.mx // 2
    AND o_custkey <  m.mx // 2 + GREATEST(1, m.mx // 30)
), clean AS (
  SELECT * FROM inj WHERE o_totalprice IS NOT NULL
)
SELECT CAST('v1' AS VARCHAR) AS snapshot,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
UNION ALL
SELECT 'v2', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM (SELECT o_orderkey, o_totalprice FROM orders
      UNION ALL SELECT o_orderkey, o_totalprice FROM clean)
ORDER BY snapshot
""",
)
def orders_wap_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH — Iceberg's WAP pattern built from this
    repo's own pieces: a batch is STAGED as an unreferenced directory,
    AUDITED by the reference's own data-quality rule (the P3 null
    screen that feeds the quarantine path, operators/ingest.py), and
    only a batch that passes the audit is PUBLISHED through the
    manifest CAS. Readers can never observe unaudited data because
    staging is invisible by construction — a staged dir is exactly the
    'unreferenced young directory' expire_snapshots' min_age_s exists
    to protect, which is the same lifecycle Delta/Iceberg give staged
    branches.

    Script (asserted): v1 = orders committed; a poisoned append batch
    (synthetic re-keyed rows with every 3rd price NULLed) is staged,
    the audit counts its null prices, REJECTS it, and the table head
    is asserted unchanged with the staged dir present-but-unreferenced
    — failure leaves no trace in any reader. The quarantine split then
    salvages the clean rows (the reference's quarantine semantics:
    bad rows diverted, not dropped silently — counts asserted to
    reconcile: clean + quarantined == staged), the clean batch passes
    the same audit, lands as a NEW bucket, and publishes v2. The
    oracle replays both snapshots from raw orders, including the
    injected-batch arithmetic, so the published surface is
    hash-certified; the poisoned batch's rows are certified ABSENT by
    the same hash.

    At 100 TB: the audit is any DataFrame predicate/aggregate over
    the staged dir only (cost = batch, not table), and publish stays
    one manifest create — quality gates scale with the data they
    gate, not the table they protect."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        latest_version,
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapwap_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    maxck = o.agg(F.max("ckey").alias("m")).collect()[0].m

    d1 = os.path.join(table, "base-g1")
    o.select("o_orderkey", "o_totalprice").write.parquet(d1)
    assert try_commit(table, 0, {"base": d1}) == 1

    # the append batch: deterministic synthetic re-keyed rows with a
    # poisoned price column (every 3rd NULL)
    lo, hi = maxck // 2, maxck // 2 + max(1, maxck // 30)
    inj = (
        o.where((F.col("ckey") >= lo) & (F.col("ckey") < hi))
        .select(
            (F.col("o_orderkey") + 2_000_000_000).alias("o_orderkey"),
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
                F.col("o_totalprice")
            ).alias("o_totalprice"),
        )
    )

    # WRITE: stage the batch as an unreferenced dir
    staged = os.path.join(table, "staged-batch")
    inj.write.parquet(staged)

    # AUDIT: the quality gate runs over the STAGED data only
    def audit_null_prices(path: str) -> int:
        return (
            spark.read.schema("o_orderkey long, o_totalprice double")
            .parquet(path)
            .where(F.col("o_totalprice").isNull())
            .count()
        )

    n_bad = audit_null_prices(staged)
    assert n_bad > 0, "the poisoned batch must trip the audit"
    # REJECT: no commit happens; the table head is untouched and the
    # staged dir stays unreferenced (min_age GC lifecycle)
    assert latest_version(table) == 1
    assert read_manifest(table) == {"base": d1}

    # QUARANTINE SPLIT: salvage the clean rows, divert the bad ones
    staged_df = spark.read.schema(
        "o_orderkey long, o_totalprice double"
    ).parquet(staged)
    clean_dir = os.path.join(table, "staged-clean")
    quar_dir = os.path.join(table, "quarantine")
    staged_df.where(F.col("o_totalprice").isNotNull()).write.parquet(
        clean_dir
    )
    staged_df.where(F.col("o_totalprice").isNull()).write.parquet(quar_dir)
    n_clean = spark.read.parquet(clean_dir).count()
    n_quar = spark.read.parquet(quar_dir).count()
    assert n_clean + n_quar == staged_df.count()
    assert n_quar == n_bad

    # AUDIT passes on the clean batch -> PUBLISH v2
    assert audit_null_prices(clean_dir) == 0
    v2_map = dict(read_manifest(table, 1))
    v2_map["batch1"] = clean_dir
    assert try_commit(table, 1, v2_map) == 2

    def agg(version: int, tag: str) -> DataFrame:
        return (
            read_snapshot(spark, table, version=version)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(tag).alias("snapshot"), "n_rows", "cents")
        )

    return agg(1, "v1").unionByName(agg(2, "v2"))


@query(
    "orders_manifest_bloom_point_lookup",
    tags=("snapshot", "layout", "skipping", "bloom", "metadata",
          "point-lookup"),
    oracle="""
WITH t AS (
  SELECT DISTINCT k FROM (
    SELECT MAX(o_orderkey) AS k FROM orders
    UNION ALL SELECT MIN(o_orderkey) FROM orders
    UNION ALL SELECT MAX(o_orderkey) FROM orders
    WHERE o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) // 2
  )
)
SELECT o.o_orderkey,
       CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
FROM orders o JOIN t ON o.o_orderkey = t.k
ORDER BY o.o_orderkey
""",
)
def orders_manifest_bloom_point_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-BUCKET BLOOM SIDECARS FOR POINT LOOKUPS — the metadata
    layer's second index: orders_manifest_stats_prune's min/max bounds
    prune RANGE predicates on the CLUSTERING column, but a point
    lookup on any OTHER column (here o_orderkey, while buckets are
    custkey ranges) sees min/max spans covering everything. The fix is
    Delta/Iceberg's per-file bloom: each bucket's commit also writes a
    16384-bit/3-hash Bloom filter over its orderkeys into a versioned
    sidecar (packed 32-bit words via the same bit_or partial-agg build
    as orders_bloom_filter_probe — one grouped agg, KB-scale JSON),
    and the reader probes the sidecar with md5 positions computed
    DRIVER-SIDE (hashlib mirrors the engine's md5 exactly) to open
    only matching buckets.

    Three deterministic target keys (max, min, max-below-half — all
    replayed as SQL scalar subqueries) are looked up: the probe
    asserts the candidate dir count is strictly below keys x buckets
    (pruning happened; false positives are allowed, false negatives
    are not — the final count assert would catch one), then reads only
    candidate dirs and filters. At 100 TB this is the difference
    between a needle query opening 3 files and opening 300,000; the
    sidecar is O(buckets) metadata and the probe is pure driver-side
    arithmetic."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_snapshot,
        try_commit,
        write_sidecar,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_buckets, k_hashes = 8, 3
    table = scratch_dir("snapbloom_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, _, maxck = seed_bucketed(o, table, n_buckets)
    # ONE scan for every other whole-table scalar this script needs
    n_total, kmax, kmin = o.agg(
        F.count(F.lit(1)), F.max("o_orderkey"), F.min("o_orderkey"),
    ).collect()[0]
    # size the filter to the data, as any real per-file bloom does:
    # ~16 bits per expected key per bucket (k=3 -> ~0.5% FP). A FIXED
    # m saturates as the table grows — the sf1 sweep caught exactly
    # that (fill ratio ~1, every bucket a candidate for every key).
    m = 1 << max(14, (16 * n_total // n_buckets).bit_length())

    # per-bucket packed bloom over o_orderkey: ONE grouped agg builds
    # every bucket's word table (identical hash recipe to
    # orders_bloom_filter_probe so the construction stays replayable)
    hashes = F.explode(
        F.array(*[F.lit(i) for i in range(k_hashes)])
    ).alias("i")
    pos = F.pmod(
        md5_prefix_int(
            F.concat_ws(
                ":", F.col("i").cast("string"),
                F.col("o_orderkey").cast("string"),
            ).cast("binary")
        ),
        F.lit(m),
    )
    words = (
        o.withColumn("pb", range_bucket("ckey", n_buckets, maxck))
        .select("pb", "o_orderkey", hashes)
        .withColumn("pos", pos)
        .groupBy("pb", F.expr("pos div 32").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, cast(pos % 32 as int)))"
            ).alias("bits")
        )
        # Arrow transfer (r15): the word table is ~100k rows at sf0.1
        # and row-based collect() materialized every one as a py4j Row;
        # toPandas rides the session's Arrow path (guide §6) and the
        # dict build below iterates C-backed tuples
        .toPandas()
    )
    blooms: dict[str, dict[str, int]] = {str(b): {} for b in range(n_buckets)}
    for pb, w, bits in words.itertuples(index=False):
        blooms[str(pb)][str(w)] = int(bits)
    write_sidecar(table, 1, "bloom", {
        "column": "o_orderkey", "m": m, "k": k_hashes, "buckets": blooms,
    })
    assert try_commit(table, 0, v1_map) == 1

    # deterministic target keys (each replayed as an oracle subquery;
    # kmax/kmin came from the single scalar scan above)
    kmid = (
        o.where(F.col("o_orderkey") <= kmax // 2)
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
    )
    targets = sorted({kmax, kmin, kmid})

    # probe: the shared scan planner (r13) — per-key Bloom pruning is
    # pure driver-side md5 arithmetic against the sidecar
    n_probe_hits = 0
    for t in targets:
        hit_dirs, trace = plan_scan(
            table, [("in", "o_orderkey", [t])], version=1, explain=True
        )
        assert hit_dirs, f"bloom false negative for key {t}"
        n_probe_hits += len(trace["after_bloom"])
    # pruning must have happened (FPs allowed, full fan-out is a bug)
    assert n_probe_hits < len(targets) * n_buckets, n_probe_hits

    # the read opens the union of the per-key candidates: an IN
    # predicate keeps a bucket whose Bloom may hold ANY of the keys
    result = (
        read_snapshot(
            spark, table, [("in", "o_orderkey", targets)], version=1
        )
        .where(F.col("o_orderkey").isin(targets))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .orderBy("o_orderkey")
    )
    rows = result.collect()
    assert len(rows) == len(targets), (len(rows), targets)
    return spark.createDataFrame(rows, result.schema)


@query(
    "orders_snapshot_rollback",
    tags=("snapshot", "restore", "time-travel", "maintenance"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
v1 AS (
  SELECT CAST('v1' AS VARCHAR) AS snapshot,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
),
v2 AS (
  SELECT CAST('v2' AS VARCHAR), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(ROUND(
           CASE WHEN o_custkey >= m.mx // 4
                 AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
                THEN o_totalprice + 100.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS BIGINT)
  FROM orders, m
  WHERE NOT (o_custkey >= (3 * m.mx) // 5
             AND o_custkey < (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
),
v3 AS (
  SELECT CAST('v3_restored' AS VARCHAR), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
  FROM orders
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
ORDER BY snapshot
""",
)
def orders_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLBACK AS A FORWARD COMMIT (Delta RESTORE / Iceberg
    rollback): undoing a bad CDC batch publishes a NEW version whose
    manifest simply re-references the old version's directories —
    zero bytes copied (asserted: no new data dirs appear), history
    preserved (the bad v2 stays time-travelable for the post-mortem),
    and the restore itself goes through the same CAS as any writer,
    so it cannot clobber a concurrent commit.

    The subtle interaction this query pins is RESTORE x RETENTION:
    after restoring v1-as-v3, expire_snapshots(keep_from=3) drops the
    v1 and v2 manifests — but v1's data directories all SURVIVE
    because the retained v3 manifest references them (asserted
    per-dir); the GC reclaims exactly v2's CDC rewrites (asserted).
    A GC that tracked 'directories of expired versions' instead of
    'directories referenced by no retained manifest' would delete the
    restored table's live data here — the reference-counting
    semantics, not the version arithmetic, are what make restore
    safe.

    The oracle replays v1, the CDC v2, and the restored v3 (== v1's
    aggregate) from raw orders. At 100 TB: restore cost is one
    manifest create regardless of how much the bad batch touched —
    the undo button is O(1)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        expire_snapshots,
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snaprestore_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map) == 1

    # the "bad" CDC batch lands as v2 (same arithmetic the oracle replays)
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)
    touched = sorted(
        set(range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1))
        | set(range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1))
    )
    v2_map = cow_rewrite(
        spark, table, 1, touched, price_cdc(upd, dele), "g2"
    )
    assert try_commit(table, 1, v2_map) == 2

    # RESTORE: v3 = v1's mapping republished — no data movement at all
    dirs_before = {n for n in os.listdir(table) if
                   os.path.isdir(os.path.join(table, n))}
    assert try_commit(table, 2, dict(v1_map)) == 3
    dirs_after = {n for n in os.listdir(table) if
                  os.path.isdir(os.path.join(table, n))}
    assert dirs_after == dirs_before, "restore must not copy data"
    assert read_manifest(table, 3) == v1_map

    def agg(version: int, tag: str) -> DataFrame:
        return (
            read_snapshot(spark, table, version=version)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(tag).alias("snapshot"), "n_rows", "cents")
        )

    result = (
        agg(1, "v1")
        .unionByName(agg(2, "v2"))
        .unionByName(agg(3, "v3_restored"))
        .orderBy("snapshot")
    )
    rows = result.collect()  # materialize before retention

    # RESTORE x RETENTION: expiring v1/v2 must keep every v1 dir alive
    # (v3 references them) and reclaim exactly v2's CDC rewrites
    removed_m, removed_d = expire_snapshots(table, keep_from=3)
    assert removed_m == 2, removed_m
    cdc_dirs = {os.path.basename(v2_map[str(b)]) for b in touched}
    assert removed_d == len(cdc_dirs), (removed_d, cdc_dirs)
    assert all(os.path.exists(p) for p in v1_map.values())
    assert not any(
        os.path.exists(os.path.join(table, n)) for n in cdc_dirs
    )

    return spark.createDataFrame(rows, result.schema)


@query(
    "warehouse_mv_atomic_commit",
    tags=("snapshot", "mv", "transaction", "multi-table", "occ"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
SELECT CAST('v1' AS VARCHAR) AS version, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'v2', o_orderpriority, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(
         CASE WHEN o_custkey >= m.mx // 6
               AND o_custkey <  m.mx // 6 + GREATEST(1, m.mx // 30)
              THEN o_totalprice + 50.0 ELSE o_totalprice END * 100, 0)
         AS BIGINT)) AS BIGINT)
FROM orders, m GROUP BY o_orderpriority
ORDER BY version, o_orderpriority
""",
)
def warehouse_mv_atomic_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE ATOMIC COMMIT — a base table and its materialized
    view published as ONE transaction, so no reader can ever observe
    base vN next to MV vN-1 (the stale-MV anomaly every warehouse
    with derived tables fights; Iceberg needs a catalog-level
    multi-table transaction for this, Delta cannot express it per-log).
    The construction is this repo's snapshot store applied one level
    up: the TRANSACTION manifest's "buckets" are TABLES — mapping
    {'base': <base data dir>, 'mv': <mv data dir>} — and the same CAS
    that arbitrates bucket commits arbitrates cross-table atomicity.
    One mechanism, two granularities.

    Atomicity is demonstrated the only honest way: after BOTH v2 data
    directories are fully staged on disk, a reader resolving through
    txn v1 is asserted to still see the OLD base AND the OLD mv
    (consistent pair); only the single manifest create makes both new
    dirs visible together. The invariant a reader actually cares
    about — MV == groupBy(base) EXACTLY — is asserted at every
    version, and the oracle replays both versions' MVs from raw
    orders (v2 = +50 price CDC on a custkey range), so the published
    pair's consistency is hash-certified.

    At 100 TB: base and MV stage through their own (bucketed,
    dynamic-partition) writes; the transaction is still one manifest
    create naming each table's new root — commit cost independent of
    either table's size."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snaptxn_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.col("o_custkey").alias("ckey"),
    )
    maxck = o.agg(F.max("ckey").alias("m")).collect()[0].m
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")

    def mv_of(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("cents"),
        )

    def stage(df: DataFrame, gen: str) -> dict[str, str]:
        base_d = os.path.join(table, f"base-{gen}")
        mv_d = os.path.join(table, f"mv-{gen}")
        df.write.parquet(base_d)
        mv_of(spark.read.parquet(base_d)).write.parquet(mv_d)
        return {"base": base_d, "mv": mv_d}

    assert try_commit(table, 0, stage(o, "g1")) == 1

    def read_pair(version: int) -> tuple[DataFrame, DataFrame]:
        return tuple(
            read_snapshot(spark, table, version=version, buckets=[b])
            for b in ("base", "mv")
        )

    def consistent(version: int) -> list:
        base, mv = read_pair(version)
        got = sorted(map(tuple, mv.collect()))
        want = sorted(map(tuple, mv_of(base).collect()))
        assert got == want, f"MV inconsistent with base at v{version}"
        return got

    mv1_rows = consistent(1)

    # CDC: +50 on a custkey range; STAGE both new dirs fully...
    upd = (F.col("ckey") >= maxck // 6) & (
        F.col("ckey") < maxck // 6 + max(1, maxck // 30)
    )
    v2_stage = stage(
        o.withColumn(
            "o_totalprice",
            F.when(upd, F.col("o_totalprice") + 50.0).otherwise(
                F.col("o_totalprice")
            ),
        ),
        "g2",
    )
    # ...and assert a txn-v1 reader still sees the OLD consistent pair
    assert consistent(1) == mv1_rows
    assert read_manifest(table, 1)["base"].endswith("base-g1")

    # the single CAS makes base+mv visible TOGETHER
    assert try_commit(table, 1, v2_stage) == 2
    consistent(2)

    def tagged(version: int, tag: str) -> DataFrame:
        return read_pair(version)[1].select(
            F.lit(tag).alias("version"), "o_orderpriority", "n_orders",
            "cents",
        )

    return (
        tagged(1, "v1")
        .unionByName(tagged(2, "v2"))
    )


@query(
    "orders_partition_spec_evolution",
    tags=("snapshot", "layout", "partition-evolution", "skipping",
          "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
SELECT CAST('year_probe' AS VARCHAR) AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1999
UNION ALL
SELECT 'ckey_probe', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM orders, m
WHERE o_custkey >= m.mx // 5
  AND o_custkey <  m.mx // 5 + GREATEST(1, m.mx // 15)
ORDER BY probe
""",
)
def orders_partition_spec_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SPEC EVOLUTION WITHOUT REWRITE — Iceberg's signature
    metadata trick, impossible with Hive-style path partitioning: the
    table STARTS custkey-range-bucketed (spec A), later loads adopt a
    year-bucketed layout (spec B), and NO old data is rewritten —
    the snapshot commits a mixed-spec manifest whose sidecar records
    each bucket's OWN spec, and the reader prunes EACH BUCKET BY ITS
    OWN SPEC:

    - a year predicate prunes the spec-B portion to exactly its year
      bucket but cannot prune spec-A buckets (custkey bounds say
      nothing about years) — reads all 4 old + 1 of 4 new (asserted);
    - a custkey predicate prunes the spec-A portion to the 1-2
      overlapping range buckets but reads all 4 spec-B buckets —
      the mirror image (asserted).

    Both probes return the same answers a full scan would (the oracle
    runs both predicates over raw orders) — spec-aware pruning is a
    pure I/O optimization, never a semantics change. At 100 TB this
    is what makes changing a 5-year-old table's partitioning an
    O(metadata) decision instead of a 5-year rewrite: new data gets
    the better layout immediately, old data keeps serving under its
    original spec, and compaction (orders_compaction_snapshot_commit)
    migrates old buckets opportunistically if ever worth it."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_snapshot,
        try_commit,
        write_sidecar,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_ck = 4
    table = scratch_dir("snapspec_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.col("o_custkey").alias("ckey"),
        F.year("o_orderdate").cast("int").alias("oyear"),
    )

    # v1: the ORIGINAL table (loads through 1997) under spec A, whose
    # custkey ranges are those of the history's own key span
    v1_map, _, old_maxck = seed_bucketed(
        o.where(F.col("oyear") <= 1997), table, n_ck, "c{b}"
    )
    ck_width = (old_maxck + 1) / n_ck
    spec: dict[str, dict] = {
        f"c{b}": {
            "column": "ckey",
            "lo": int(b * ck_width),
            "hi": int((b + 1) * ck_width) if b < n_ck - 1 else old_maxck + 1,
        }
        for b in range(n_ck)
    }
    write_sidecar(table, 1, "spec", spec)
    assert try_commit(table, 0, v1_map) == 1

    # spec change: 1998+ loads land YEAR-bucketed; old data untouched
    new = o.where(F.col("oyear") >= 1998)
    root_b = os.path.join(table, "specB")
    new.withColumn("py", F.col("oyear")).write.partitionBy("py").parquet(
        root_b
    )
    v2_map = dict(v1_map)
    for n in os.listdir(root_b):
        if not n.startswith("py="):
            continue
        y = int(n.split("=", 1)[1])
        bid = f"y{y}"
        v2_map[bid] = os.path.join(root_b, n)
        spec[bid] = {"column": "oyear", "value": y}
    write_sidecar(table, 2, "spec", spec)
    assert try_commit(table, 1, v2_map) == 2
    assert all(v2_map[b] == v1_map[b] for b in v1_map)  # zero rewrite

    # spec-aware reader: the shared scan planner (r13) prunes each
    # bucket BY ITS OWN spec — a year predicate cannot prune spec-A
    # buckets, a custkey predicate cannot prune spec-B buckets, and
    # the explain trace certifies both directions
    n_old, n_new = len(v1_map), len(v2_map) - len(v1_map)

    year_preds = [("in", "oyear", [1999])]
    _, year_trace = plan_scan(table, year_preds, version=2, explain=True)
    year_cand = year_trace["after_spec"]
    assert len(year_cand) == n_old + 1, (year_cand, n_old)

    # the custkey window is drawn off the whole table's key span
    maxck = o.agg(F.max("ckey")).collect()[0][0]
    lo, hi = maxck // 5, maxck // 5 + max(1, maxck // 15)
    ck_preds = [("range", "ckey", lo, hi)]
    _, ck_trace = plan_scan(table, ck_preds, version=2, explain=True)
    ck_cand = ck_trace["after_spec"]
    n_a_hit = len([b for b in ck_cand if b.startswith("c")])
    assert n_a_hit < n_old and n_a_hit >= 1, ck_cand
    assert len(ck_cand) == n_a_hit + n_new, ck_cand

    def agg(preds: list, pred, tag: str) -> DataFrame:
        return (
            read_snapshot(spark, table, preds, version=2)
            .where(pred)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(tag).alias("probe"), "n_rows", "cents")
        )

    return (
        agg(ck_preds, (F.col("ckey") >= lo) & (F.col("ckey") < hi),
            "ckey_probe")
        .unionByName(agg(year_preds, F.col("oyear") == 1999, "year_probe"))
    )


@query(
    "orders_scan_planner_composed",
    tags=("snapshot", "metadata", "skipping", "planner", "spec", "stats",
          "bloom"),
    oracle="""
WITH mk AS (SELECT MAX(o_orderkey) // 2 AS half FROM orders),
tgt AS (SELECT MAX(o_orderkey) AS k FROM orders, mk
        WHERE o_orderkey <= mk.half)
SELECT CAST('point_probe' AS VARCHAR) AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders, tgt WHERE o_orderkey = tgt.k
UNION ALL
SELECT 'year_probe', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1999
ORDER BY probe
""",
)
def orders_scan_planner_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE MANIFEST-NATIVE SCAN PLANNER, ALL LAYERS IN ONE READ PATH
    (r12 verdict task 2): spec pruning, column-stats pruning, and
    per-bucket Bloom pruning were three separate r12 demos, each
    hand-rolling its own bucket selection; real table formats run them
    as ONE planner every reader goes through (Iceberg ``planFiles``:
    partition pruning -> manifest-entry bounds -> dictionary/bloom;
    Delta data skipping likewise). operators/snapshots.plan_scan is
    that planner, and this query drives a table where EVERY layer has
    distinct work to do:

    - the table is spec-EVOLVED (4 custkey-range buckets hold the
      pre-1998 history, year buckets hold 1998+), with a stats sidecar
      (per-bucket min/max of ckey, oyear, o_orderkey) and a Bloom
      sidecar (per-bucket packed filter over o_orderkey);
    - the YEAR probe shows spec+stats composing: the spec layer keeps
      the matching year bucket but CANNOT prune the 4 range buckets
      (their spec says nothing about years) — the stats layer then
      kills all 4, because their observed oyear max is 1997. Candidate
      chain asserted 8 -> 5 -> 1.
    - the POINT probe (a mid-keyspace orderkey) shows why Bloom earns
      its bytes: spec prunes nothing (no bucket is keyed on orderkey)
      and min/max stats are useless for a mid-range key (every
      bucket's observed span contains it), so only the Bloom layer
      collapses the fan-out — asserted strictly smaller than the
      stats survivors.

    Both probes' answers are hash-certified against raw orders (the
    planner may only change WHAT IS READ, never the result), and the
    residual row filter always runs on top of the pruned read. At
    100 TB this one planner is the table's entire point-lookup and
    partition-elimination story: O(buckets) JSON consulted on the
    driver, then only surviving directories touched."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_snapshot,
        try_commit,
        write_sidecar,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_ck, k_hashes = 4, 3
    table = scratch_dir("snapplan_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.col("o_custkey").alias("ckey"),
        F.year("o_orderdate").cast("int").alias("oyear"),
    )
    # ONE scan for every whole-table scalar the script needs (r15:
    # kmax was a separate agg further down)
    maxck, n_total, kmax = o.agg(
        F.max("ckey"), F.count(F.lit(1)), F.max("o_orderkey")
    ).collect()[0]
    ck_width = (maxck + 1) / n_ck
    fb = F.least(
        F.lit(n_ck - 1), F.floor(F.col("ckey") * n_ck / (maxck + 1))
    ).cast("int")
    # bucket id under the table's MIXED spec: pre-1998 rows live in
    # custkey-range buckets c0..c3, 1998+ rows in year buckets y<YYYY>
    bid = F.when(
        F.col("oyear") <= 1997, F.concat(F.lit("c"), fb.cast("string"))
    ).otherwise(F.concat(F.lit("y"), F.col("oyear").cast("string")))

    # ONE partitioned write on the mixed-spec bucket id builds both
    # spec families' dirs (r15: was two writes = two full scans; the
    # bid partition column is the dropped copy, so data files keep
    # ckey AND oyear exactly as the two-write form did)
    root = os.path.join(table, "data")
    o.withColumn("bid", bid).write.partitionBy("bid").parquet(root)

    mapping: dict[str, str] = {}
    spec: dict[str, dict] = {}
    for n in os.listdir(root):
        if not n.startswith("bid="):
            continue
        b_id = n.split("=", 1)[1]
        mapping[b_id] = os.path.join(root, n)
        if b_id.startswith("c"):
            b = int(b_id[1:])
            spec[b_id] = {
                "column": "ckey",
                "lo": int(b * ck_width),
                "hi": int((b + 1) * ck_width) if b < n_ck - 1 else maxck + 1,
            }
        else:
            spec[b_id] = {"column": "oyear", "value": int(b_id[1:])}

    # stats sidecar: ONE grouped agg -> per-bucket observed bounds for
    # every prunable column (a real writer folds these out of its
    # write tasks for free)
    stats = {
        r.bid: {
            "ckey": [r.cklo, r.ckhi],
            "oyear": [r.ylo, r.yhi],
            "o_orderkey": [r.klo, r.khi],
        }
        for r in o.withColumn("bid", bid).groupBy("bid").agg(
            F.min("ckey").alias("cklo"), F.max("ckey").alias("ckhi"),
            F.min("oyear").alias("ylo"), F.max("oyear").alias("yhi"),
            F.min("o_orderkey").alias("klo"),
            F.max("o_orderkey").alias("khi"),
        ).collect()
    }

    # bloom sidecar over o_orderkey: same packed-word partial-agg
    # build as orders_manifest_bloom_point_lookup, sized ~16 bits/key
    m = 1 << max(14, (16 * n_total // len(mapping)).bit_length())
    hashes = F.explode(
        F.array(*[F.lit(i) for i in range(k_hashes)])
    ).alias("i")
    pos = F.pmod(
        md5_prefix_int(
            F.concat_ws(
                ":", F.col("i").cast("string"),
                F.col("o_orderkey").cast("string"),
            ).cast("binary")
        ),
        F.lit(m),
    )
    blooms: dict[str, dict[str, int]] = {b: {} for b in mapping}
    for bid_v, w, bits in (
        o.withColumn("bid", bid)
        .select("bid", "o_orderkey", hashes)
        .withColumn("pos", pos)
        .groupBy("bid", F.expr("pos div 32").alias("w"))
        .agg(F.expr(
            "bit_or(shiftleft(1L, cast(pos % 32 as int)))"
        ).alias("bits"))
        # Arrow transfer of the ~100k-row word table (r15; same as
        # orders_manifest_bloom_point_lookup)
        .toPandas().itertuples(index=False)
    ):
        blooms[bid_v][str(w)] = int(bits)

    write_sidecar(table, 1, "spec", spec)
    write_sidecar(table, 1, "stats", stats)
    write_sidecar(table, 1, "bloom", {
        "column": "o_orderkey", "m": m, "k": k_hashes, "buckets": blooms,
    })
    assert try_commit(table, 0, mapping) == 1
    n_old = sum(1 for b in mapping if b.startswith("c"))

    # YEAR probe: spec keeps c* (cannot prune) + the one year bucket;
    # stats then kill every c* bucket (observed oyear max == 1997)
    year_preds = [("in", "oyear", [1999])]
    _, tr = plan_scan(table, year_preds, version=1, explain=True)
    assert len(tr["buckets"]) == len(mapping)
    assert len(tr["after_spec"]) == n_old + 1, tr
    assert tr["after_stats"] == ["y1999"], tr
    assert tr["after_bloom"] == ["y1999"], tr  # bloom: nothing to add

    # POINT probe: a mid-keyspace orderkey — spec prunes nothing,
    # stats prune (at most) the tails, Bloom collapses the fan-out
    # (kmax came from the single scalar scan above)
    kmid = (
        o.where(F.col("o_orderkey") <= kmax // 2)
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
    )
    point_preds = [("in", "o_orderkey", [kmid])]
    point_dirs, tr2 = plan_scan(table, point_preds, version=1, explain=True)
    assert tr2["after_spec"] == tr2["buckets"], tr2  # spec: no signal
    assert point_dirs, "bloom false negative"
    assert len(tr2["after_bloom"]) < len(tr2["after_stats"]), tr2

    cents = F.sum(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    ).cast("bigint").alias("cents")
    n_rows = F.count(F.lit(1)).cast("long").alias("n_rows")
    year_probe = (
        read_snapshot(spark, table, year_preds, version=1)
        .where(F.col("oyear") == 1999)          # residual filter
        .agg(n_rows, cents)
        .select(F.lit("year_probe").alias("probe"), "n_rows", "cents")
    )
    point_probe = (
        read_snapshot(spark, table, point_preds, version=1)
        .where(F.col("o_orderkey") == kmid)     # residual filter
        .agg(n_rows, cents)
        .select(F.lit("point_probe").alias("probe"), "n_rows", "cents")
    )
    return point_probe.unionByName(year_probe)


@query(
    "orders_deletion_vector_merge_on_read",
    tags=("snapshot", "delete", "merge-on-read", "dv", "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
kept AS (
  SELECT o_totalprice FROM orders, m
  WHERE NOT (o_custkey >= (3 * m.mx) // 5
             AND o_custkey <  (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
)
SELECT CAST('v1_full' AS VARCHAR) AS snapshot,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
UNION ALL
SELECT 'v2_dv', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM kept
UNION ALL
SELECT 'v3_compacted', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM kept
ORDER BY snapshot
""",
)
def orders_deletion_vector_merge_on_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETION VECTORS — MERGE-ON-READ ROW DELETES WITHOUT REWRITE
    (Iceberg v2 equality deletes / Delta deletion vectors): the r12
    snapshot store deleted rows by COW-rewriting every affected
    bucket; a small DELETE on a 100 TB table must not pay GBs of
    write amplification for KBs of intent. v2 commits the delete as
    an EQUALITY-DELETE SIDECAR — the doomed keys, per bucket — and
    the manifest's bucket mapping is asserted BYTE-IDENTICAL to v1:
    zero data files written, commit cost = one KB-scale JSON + one
    manifest create.

    Correctness is carried by the ONE read path: read_snapshot
    (operators/snapshots.py) applies any version's delete vector as a
    broadcast-sized anti-filter, so every reader — this query, the
    planner demos, time travel — sees deletes without knowing they
    exist. v3 then runs the standard migration: compaction APPLIES the
    vector (rewrites only the affected buckets minus their doomed
    keys, asserted <= 2 of 8), commits WITHOUT a sidecar, and the
    oracle certifies v2 == v3 row-for-row — merge-on-read and
    copy-on-write are two physical encodings of the same table state,
    exchanged at the writer's convenience (read-heavy tables compact
    early, write-heavy tables accumulate DVs).

    The DV is deliberately key-based (equality deletes), not
    positional: position deletes need stable row ordinals, which
    parquet-over-object-store only guarantees per file — at the
    bucket grain the key form is the robust one, and the keys here
    are collected driver-side because a DV is by definition small
    (a big DELETE should COW — the writer picks per commit)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
        try_commit,
        write_sidecar,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_buckets = 8
    table = scratch_dir("snapdv_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table, n_buckets)
    assert try_commit(table, 0, v1_map) == 1

    # v2: DELETE as a deletion vector — zero data rewrite
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)
    touched = list(range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1))
    assert len(touched) <= 2, touched
    doomed = {
        str(b): sorted(
            r.o_orderkey
            for r in read_snapshot(spark, table, version=1, buckets=[b])
            .where(dele).select("o_orderkey").collect()
        )
        for b in touched
    }
    assert any(doomed.values()), "delete range selected nothing"
    write_sidecar(table, 2, "deletes", {
        "column": "o_orderkey", "buckets": doomed,
    })
    assert try_commit(table, 1, dict(v1_map)) == 2
    assert read_manifest(table, 2) == v1_map  # zero rewrite, by manifest

    # v3: compaction applies the DV and drops it — only touched
    # buckets rewrite; everything else is shared with v1/v2
    v3_map = cow_rewrite(
        spark, table, 1, touched, lambda df: df.where(~dele), "g3"
    )
    assert try_commit(table, 2, v3_map) == 3
    shared = [b for b in v1_map if v3_map[b] == v1_map[b]]
    assert len(shared) == n_buckets - len(touched), shared

    def agg(version: int, tag: str) -> DataFrame:
        return read_snapshot(spark, table, version=version).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        ).select(F.lit(tag).alias("snapshot"), "n_rows", "cents")

    return (
        agg(1, "v1_full")
        .unionByName(agg(2, "v2_dv"))
        .unionByName(agg(3, "v3_compacted"))
    )


@query(
    "orders_schema_evolution_snapshot",
    tags=("snapshot", "schema-evolution", "rename", "add-column",
          "metadata"),
    oracle="""
WITH old AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) <= 1997
), new AS (
  SELECT o_orderpriority AS priority,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1998
)
SELECT CAST('v2_renamed' AS VARCHAR) AS snapshot,
       CAST('(all)' AS VARCHAR) AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM old
UNION ALL
SELECT 'v3_added', '(none)', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(cents) AS BIGINT)
FROM old
UNION ALL
SELECT 'v3_added', priority, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(cents) AS BIGINT)
FROM new GROUP BY priority
ORDER BY snapshot, priority
""",
)
def orders_schema_evolution_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION VIA COLUMN MAPPING — RENAME and ADD COLUMN as
    metadata-only commits (Iceberg field-id mapping / Delta column
    mapping): physical parquet columns are stable field names
    (f1, f2, …); the LOGICAL schema lives in a versioned sidecar that
    maps logical names to fields, so renaming a column rebinds a name
    (zero rewrite — the v2 manifest is asserted identical to v1) and
    adding one just means old buckets lack the new field and read
    NULL for it (zero rewrite of history).

    Timeline: v1 = the pre-1998 history in 4 custkey buckets with
    logical schema (o_orderkey, price_cents); v2 = RENAME price_cents
    -> revenue_cents (new sidecar, same buckets byte-for-byte); v3 =
    ADD COLUMN priority arriving WITH the 1998+ load (only the new
    bucket physically carries f3).

    The reader (operators/snapshots.read_snapshot) groups
    buckets by physical field signature — one multi-dir read per
    schema GENERATION, not per bucket — projects each group to the
    version's logical names with NULL-fill, and unions (zero
    shuffle). The oracle replays both reads from raw orders: v2's
    totals under the NEW name must equal the old data (rename changed
    nothing but the name), and v3 groups by the added column with the
    entire pre-1998 history surfacing as '(none)' — exactly the
    old-rows-read-NULL contract. In-builder, v1 is also read under
    the ORIGINAL name to pin that history replays with period-correct
    schemas. At 100 TB: both evolutions cost one sidecar + one
    manifest create; the 5-year-old history is never rewritten."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
        try_commit,
        write_sidecar,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_ck = 4
    table = scratch_dir("snapschema_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_custkey").alias("ckey"),
        F.year("o_orderdate").cast("int").alias("oyear"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    maxck = o.agg(F.max("ckey").alias("m")).collect()[0].m
    fb = F.least(
        F.lit(n_ck - 1), F.floor(F.col("ckey") * n_ck / (maxck + 1))
    ).cast("int")

    # v1: history under physical fields f1/f2, logical names v1-era
    root = os.path.join(table, "g1")
    (
        o.where(F.col("oyear") <= 1997)
        .select(
            F.col("o_orderkey").alias("f1"), F.col("cents").alias("f2"),
            fb.alias("pb"),
        )
        .write.partitionBy("pb").parquet(root)
    )
    v1_map = {
        f"c{n.split('=', 1)[1]}": os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("pb=")
    }
    sig_old = {b: ["f1", "f2"] for b in v1_map}
    write_sidecar(table, 1, "schema", {
        "fields": {"o_orderkey": "f1", "price_cents": "f2"},
        "buckets": sig_old,
    })
    assert try_commit(table, 0, v1_map) == 1

    # v2: RENAME price_cents -> revenue_cents (metadata-only)
    write_sidecar(table, 2, "schema", {
        "fields": {"o_orderkey": "f1", "revenue_cents": "f2"},
        "buckets": sig_old,
    })
    assert try_commit(table, 1, dict(v1_map)) == 2
    assert read_manifest(table, 2) == v1_map  # zero rewrite

    # v3: ADD COLUMN priority, arriving with the 1998+ load only
    d_new = os.path.join(table, "g3-new")
    (
        o.where(F.col("oyear") >= 1998)
        .select(
            F.col("o_orderkey").alias("f1"), F.col("cents").alias("f2"),
            F.col("o_orderpriority").alias("f3"),
        )
        .write.parquet(d_new)
    )
    v3_map = dict(v1_map)
    v3_map["new98"] = d_new
    write_sidecar(table, 3, "schema", {
        "fields": {"o_orderkey": "f1", "revenue_cents": "f2",
                   "priority": "f3"},
        "buckets": {**sig_old, "new98": ["f1", "f2", "f3"]},
    })
    assert try_commit(table, 2, v3_map) == 3

    # history replays under its period-correct logical schema
    v1_read = read_snapshot(spark, table, version=1)
    assert v1_read.columns == ["o_orderkey", "price_cents"], v1_read.columns

    v2_read = read_snapshot(spark, table, version=2)
    assert v2_read.columns == ["o_orderkey", "revenue_cents"]
    v2_rows = v2_read.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("revenue_cents").cast("bigint").alias("cents"),
    ).select(
        F.lit("v2_renamed").alias("snapshot"),
        F.lit("(all)").alias("priority"), "n_rows", "cents",
    )

    v3_rows = (
        read_snapshot(spark, table, version=3)
        .groupBy(F.coalesce(F.col("priority"), F.lit("(none)"))
                 .alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("revenue_cents").cast("bigint").alias("cents"),
        )
        .select(F.lit("v3_added").alias("snapshot"), "priority", "n_rows",
                "cents")
    )
    return v2_rows.unionByName(v3_rows)


@query(
    "orders_branch_wap_fastforward",
    tags=("snapshot", "branch", "wap", "fast-forward", "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
v2 AS (
  SELECT CASE WHEN o_custkey >= m.mx // 4
               AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
              THEN o_totalprice + 100.0 ELSE o_totalprice END AS p
  FROM orders, m
)
SELECT CAST('branch_head' AS VARCHAR) AS snapshot,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(p * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM v2
UNION ALL
SELECT 'main_v1', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM orders
UNION ALL
SELECT 'main_v2', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(p * 100, 0) AS BIGINT)) AS BIGINT)
FROM v2
ORDER BY snapshot
""",
)
def orders_branch_wap_fastforward(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SNAPSHOT BRANCHES — WRITE-AUDIT-PUBLISH ON A BRANCH, PROMOTED
    BY FAST-FORWARD (Iceberg branch refs + the WAP pattern as its
    docs describe it): r12's orders_wap_audit_publish staged ONE
    unreferenced directory; a real audit pipeline wants a whole
    VERSIONED LINE of work main never sees — multiple commits,
    re-runs, its own history — and that is a branch: an independent
    manifest chain (``manifest-<branch>-v<N>.json``) over the same
    CAS, created at main's head for zero copy (create_branch).

    Script: main v1 = 8 custkey buckets. Branch 'etl' is cut at v1
    (asserted: no new data dirs). The risky CDC (+100 on a custkey
    range) lands as branch commit v2 — COW over only its touched
    buckets — while MAIN IS ASSERTED BYTE-UNTOUCHED (same head, same
    mapping, same aggregate). The audit runs against the branch head;
    it passes, and main FAST-FORWARDS: one ordinary CAS commit whose
    mapping IS the branch head's (asserted identical — promotion
    moves zero bytes). A second branch 'bad' stages a POISONED batch
    (nulled keys); its audit fails, drop_branch abandons the line,
    and expire_snapshots reclaims exactly the poisoned directory
    (asserted) while everything main/etl reference survives — branch
    refs pin their data until dropped, exactly Iceberg's ref-aware
    GC.

    r14 additions (the r13 verdict's task 4): branch-aware TIME
    TRAVEL — as_of_version(branch=...) resolves an instant against
    the branch's OWN snapshot log (a probe between the cut and the
    CDC lands on the branch point, "now" on the branch head) — and
    PER-BRANCH RETENTION — expire_snapshots(branch_keep_from=...)
    trims a branch's history with the same clamp-to-head rail as
    main, asserted to leave main's history and every branch-
    referenced data directory untouched (expiring one ref never
    breaks another).

    At 100 TB: a branch is one manifest file; cutting, committing to,
    promoting, and dropping it are all O(metadata). The oracle
    replays main's v1 and the promoted v2 (== branch head) from raw
    orders."""
    import time as _time

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        as_of_version,
        create_branch,
        drop_branch,
        expire_snapshots,
        latest_version,
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapbranch_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map) == 1

    def agg_of(version: int | None = None) -> tuple:
        r = read_snapshot(spark, table, version=version).agg(
            F.count(F.lit(1)),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")),
        ).collect()[0]
        return (r[0], r[1])

    main_v1_agg = agg_of(1)
    dirs_before = {n for n in os.listdir(table) if os.path.isdir(
        os.path.join(table, n))}

    # cut the branch at main's head: zero copy
    assert create_branch(table, "etl") == 1
    assert read_manifest(table, branch="etl") == v1_map
    assert {n for n in os.listdir(table) if os.path.isdir(
        os.path.join(table, n))} == dirs_before
    ts_after_cut = _time.time()  # instant between etl v1 and etl v2

    # the risky CDC lands on the BRANCH (COW over touched buckets)
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    etl_map = cow_rewrite(
        spark, table, 1,
        range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1),
        price_cdc(upd), "etl",
    )
    assert try_commit(table, 1, etl_map, branch="etl") == 2

    # main is byte-untouched while the branch carries the work
    assert latest_version(table) == 1
    assert read_manifest(table) == v1_map
    assert agg_of() == main_v1_agg

    # audit the branch head; it passes -> FAST-FORWARD main
    branch_head = read_manifest(table, branch="etl")
    n_nulls = (
        read_snapshot(spark, table, branch="etl")
        .where(F.col("o_orderkey").isNull()).count()
    )
    assert n_nulls == 0
    assert try_commit(table, 1, dict(branch_head)) == 2
    assert read_manifest(table, 2) == branch_head  # promotion: 0 bytes

    # a second branch stages POISON; audit fails; the line is dropped
    # and GC reclaims exactly its staged directory
    assert create_branch(table, "bad", from_version=2) == 1
    d_bad = os.path.join(table, "b0-bad")
    read_snapshot(spark, table, version=2, buckets=["0"]).withColumn(
        "o_orderkey", F.lit(None).cast("long")
    ).write.parquet(d_bad)
    bad_map = dict(branch_head)
    bad_map["0"] = d_bad
    assert try_commit(table, 1, bad_map, branch="bad") == 2
    poisoned = (
        read_snapshot(spark, table, branch="bad")
        .where(F.col("o_orderkey").isNull()).count()
    )
    assert poisoned > 0  # audit fails -> never fast-forwarded
    drop_branch(table, "bad")
    # the dropped line's staged dir is unreferenced by every surviving
    # manifest (main v1/v2, etl v1/v2) -> GC reclaims exactly it, and
    # nothing a live ref names (retention keeps all of main's history)
    removed_m, removed_d = expire_snapshots(table, keep_from=1)
    assert (removed_m, removed_d) == (0, 1), (removed_m, removed_d)
    assert not os.path.exists(d_bad)
    assert all(os.path.exists(d) for d in branch_head.values())
    assert agg_of(1) == main_v1_agg

    # r14: branch-aware TIME TRAVEL — the branch has its OWN snapshot
    # log, so an instant between the cut and the CDC resolves to the
    # branch point while "now" resolves to the branch head (Iceberg:
    # per-ref snapshot history); main's log is consulted separately
    assert as_of_version(table, ts_after_cut, branch="etl") == 1
    assert as_of_version(table, _time.time(), branch="etl") == 2
    assert as_of_version(table, ts_after_cut) == 1  # main's own log

    # r14: PER-BRANCH RETENTION — an audit re-run republishes the
    # branch head as etl v3, then a branch retention policy trims the
    # branch's own history (clamped to its head, same rail as main)
    # while main's history — already at keep_from=1, i.e. keep all —
    # and every data directory the branch references stay untouched:
    # expiring main never breaks an unpromoted branch and vice versa
    assert try_commit(table, 2, dict(etl_map), branch="etl") == 3
    removed_m, removed_d = expire_snapshots(
        table, keep_from=1, branch_keep_from={"etl": 99}
    )
    assert (removed_m, removed_d) == (2, 0), (removed_m, removed_d)
    assert latest_version(table, "etl") == 3
    assert read_manifest(table, branch="etl") == etl_map
    assert all(os.path.exists(d) for d in etl_map.values())
    assert latest_version(table) == 2
    assert read_manifest(table, 1) == v1_map

    def agg(tag: str, version: int | None = None, branch: str = "main"):
        df = read_snapshot(spark, table, version=version, branch=branch)
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint").alias("cents"),
        ).select(F.lit(tag).alias("snapshot"), "n_rows", "cents")

    return (
        agg("branch_head", branch="etl")
        .unionByName(agg("main_v1", 1))
        .unionByName(agg("main_v2", 2))
    )


@query(
    "orders_shallow_clone_divergence",
    tags=("snapshot", "clone", "zero-copy", "gc", "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
SELECT CAST('clone_head' AS VARCHAR) AS snapshot,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders, m
WHERE NOT (o_custkey >= (3 * m.mx) // 5
           AND o_custkey <  (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
UNION ALL
SELECT 'source_head', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(
         CASE WHEN o_custkey >= m.mx // 4
               AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
              THEN o_totalprice + 100.0 ELSE o_totalprice END * 100, 0)
         AS BIGINT)) AS BIGINT)
FROM orders, m
ORDER BY snapshot
""",
)
def orders_shallow_clone_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ZERO-COPY SHALLOW CLONE with independent evolution and the
    GC fence the pattern requires (Delta SHALLOW CLONE / Iceberg
    metadata-only table copy): a clone is a NEW TABLE whose v1
    manifest references the SOURCE's data directories — creating a
    full writable copy of a 100 TB table costs one KB-scale JSON
    (asserted: the clone dir contains zero data directories).

    Both tables then diverge: the clone deletes a custkey range (COW
    into the CLONE's own dirs — its unchanged buckets still point
    into the source, asserted), while the source applies a +100
    update to a disjoint range. Each table's head is oracle-replayed
    from raw orders, so cross-contamination in either direction would
    hash-fail.

    Then the part every shallow-clone doc warns about, made explicit:
    after the source's COW update, the source's OWN retention no
    longer needs its v1 image of the updated buckets — but the CLONE
    still reads them. The builder asserts the hazard is real (those
    dirs are dead to every SOURCE manifest yet live to the clone),
    then runs the source's expire_snapshots WITH the clone's live set
    as the ``extra_live`` fence — the shared dirs survive (asserted)
    and the clone still serves its exact rows. This is Delta's
    "don't VACUUM below a shallow clone's horizon" contract as an
    enforced parameter instead of a footnote; production systems
    track clone refs in a catalog and build the fence automatically."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        expire_snapshots,
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    n_buckets = 8
    work = scratch_dir("snapclone_")
    src_t = os.path.join(work, "source")
    clone_t = os.path.join(work, "clone")
    os.makedirs(src_t)
    os.makedirs(clone_t)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, src_t, n_buckets)
    assert try_commit(src_t, 0, v1_map) == 1

    # the clone: one manifest, zero data — a new table born at v1
    assert try_commit(
        clone_t, 0, v1_map, meta={"_cloned_from": src_t}
    ) == 1
    assert not any(
        os.path.isdir(os.path.join(clone_t, n)) for n in os.listdir(clone_t)
    )

    # clone diverges: DELETE a range, COW into the CLONE's own dirs
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)
    c_map = cow_rewrite(
        spark, clone_t, 1,
        range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1),
        lambda df: df.where(~dele), "c2",
    )
    assert try_commit(clone_t, 1, c_map) == 2
    shared = [b for b in v1_map if c_map[b] == v1_map[b]]
    assert len(shared) >= n_buckets - 2  # unchanged buckets still shared

    # source diverges on a DISJOINT range: +100 update, COW in source
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    upd_buckets = [
        str(b) for b in range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1)
    ]
    s_map = cow_rewrite(
        spark, src_t, 1, upd_buckets, price_cdc(upd), "s2"
    )
    assert try_commit(src_t, 1, s_map) == 2

    # the hazard, demonstrated: after source retention, the updated
    # buckets' v1 dirs are dead to EVERY source manifest...
    clone_live = set(read_manifest(clone_t).values())
    at_risk = [v1_map[b] for b in upd_buckets]
    assert all(d not in s_map.values() for d in at_risk)
    # ...but the clone still reads them
    assert all(d in clone_live for d in at_risk)

    # the fence: source GC runs WITH the clone's live set
    removed_m, removed_d = expire_snapshots(
        src_t, keep_from=2, extra_live=clone_live
    )
    assert removed_m == 1 and removed_d == 0
    assert all(os.path.exists(d) for d in at_risk)

    def agg(table: str, tag: str) -> DataFrame:
        return read_snapshot(spark, table).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint").alias("cents"),
        ).select(F.lit(tag).alias("snapshot"), "n_rows", "cents")

    return (
        agg(src_t, "source_head")
        .unionByName(agg(clone_t, "clone_head"))
    )


@query(
    "orders_snapshot_describe_history",
    tags=("snapshot", "history", "audit", "metadata", "lineage"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
b AS (
  SELECT LEAST(7, (mx // 4) * 8 // (mx + 1)) AS ub_lo,
         LEAST(7, (mx // 4 + GREATEST(1, mx // 20) - 1) * 8 // (mx + 1))
           AS ub_hi,
         LEAST(7, ((3 * mx) // 5) * 8 // (mx + 1)) AS db_lo,
         LEAST(7, ((3 * mx) // 5 + GREATEST(1, mx // 50) - 1) * 8
               // (mx + 1)) AS db_hi
  FROM m
),
v2 AS (
  SELECT CASE WHEN o_custkey >= m.mx // 4
               AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
              THEN o_totalprice + 100.0 ELSE o_totalprice END AS p
  FROM orders, m
  WHERE NOT (o_custkey >= (3 * m.mx) // 5
             AND o_custkey <  (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
)
SELECT CAST(1 AS INT) AS version, CAST(1000 AS BIGINT) AS committed_at,
       CAST('loader' AS VARCHAR) AS writer,
       CAST(8 AS INT) AS n_buckets, CAST(8 AS INT) AS n_added,
       CAST(0 AS INT) AS n_removed, CAST(0 AS INT) AS n_repointed,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
UNION ALL
SELECT 2, 2000, 'cdc', 8, 0, 0,
       CAST((b.ub_hi - b.ub_lo + 1) + (b.db_hi - b.db_lo + 1) AS INT),
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(p * 100, 0) AS BIGINT)) AS BIGINT)
FROM v2, b GROUP BY b.ub_lo, b.ub_hi, b.db_lo, b.db_hi
UNION ALL
SELECT 3, 3000, 'maintenance', 1, 1, 8, 0,
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(p * 100, 0) AS BIGINT)) AS BIGINT)
FROM v2
ORDER BY version
""",
)
def orders_snapshot_describe_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DESCRIBE HISTORY — the commit-log audit surface every lakehouse
    exposes (Delta ``DESCRIBE HISTORY`` / Iceberg's ``snapshots``
    metadata table), built from nothing but the store's own persisted
    metadata: operators/snapshots.table_history walks the retained
    manifest chain and emits, per version, the commit instant
    (``_committed_at``), the writer, and the MANIFEST DIFF against
    the previous version (bucket ids added / removed / re-pointed) —
    one KB-scale JSON read per version, independent of table size.

    The scripted history exercises all three diff kinds: v1 = the
    initial load (writer 'loader', 8 buckets ADDED); v2 = a CDC
    update+delete (writer 'cdc', only the touched buckets
    RE-POINTED — count asserted equal to the bucket arithmetic, which
    the oracle independently derives from raw data with the same
    floor math); v3 = full compaction (writer 'maintenance', 1 bucket
    added, 8 removed, content identical to v2 — the history shows a
    maintenance commit as pure layout).

    Each history row also carries that version's CONTENT audit
    (row count + exact cents read through its manifest), so the
    returned frame certifies both halves: the metadata story (who
    committed what, when, touching which buckets) and the data story
    (what each version actually held) — and the DuckDB oracle replays
    BOTH from raw orders, including the touched-bucket arithmetic.
    The per-version reads share v1's untouched buckets via the COW
    manifests, so the audit costs one logical pass over live data,
    not one per version."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        table_history,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snaphist_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(
        table, 0, v1_map,
        meta={"_committed_at": 1000.0, "_writer": "loader"},
    ) == 1

    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)
    ubs = set(range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1))
    dbs = set(range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1))
    assert not (ubs & dbs)  # the oracle's touched-count sum needs this
    v2_map = cow_rewrite(
        spark, table, 1, sorted(ubs | dbs), price_cdc(upd, dele), "g2"
    )
    assert try_commit(
        table, 1, v2_map,
        meta={"_committed_at": 2000.0, "_writer": "cdc"},
    ) == 2

    d3 = os.path.join(table, "compact-g3")
    read_snapshot(spark, table, version=2).coalesce(4).write.parquet(d3)
    assert try_commit(
        table, 2, {"all": d3},
        meta={"_committed_at": 3000.0, "_writer": "maintenance"},
    ) == 3

    hist = table_history(table)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[1]["repointed"] == sorted(
        str(b) for b in (ubs | dbs)
    ), hist[1]
    assert (hist[2]["added"], hist[2]["removed"]) == (["all"],
                                                      sorted(v1_map))

    parts = []
    for h in hist:
        parts.append(
            read_snapshot(spark, table, version=h["version"]).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
                ).cast("bigint").alias("cents"),
            ).select(
                F.lit(h["version"]).cast("int").alias("version"),
                F.lit(int(h["committed_at"])).cast("long")
                .alias("committed_at"),
                F.lit(h["writer"]).alias("writer"),
                F.lit(h["n_buckets"]).cast("int").alias("n_buckets"),
                F.lit(len(h["added"])).cast("int").alias("n_added"),
                F.lit(len(h["removed"])).cast("int").alias("n_removed"),
                F.lit(len(h["repointed"])).cast("int")
                .alias("n_repointed"),
                "n_rows",
                "cents",
            )
        )
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    return out


@query(
    "orders_snapshot_as_of",
    tags=("snapshot", "time-travel", "as-of", "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
t1 AS (
  SELECT CAST('t1' AS VARCHAR) AS probe,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
),
t2 AS (
  SELECT CAST('t2' AS VARCHAR), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(ROUND(
           CASE WHEN o_custkey >= m.mx // 4
                 AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
                THEN o_totalprice + 100.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS BIGINT)
  FROM orders, m
),
t3 AS (
  SELECT CAST('t3' AS VARCHAR), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(ROUND(
           CASE WHEN o_custkey >= m.mx // 4
                 AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 20)
                THEN o_totalprice + 100.0 ELSE o_totalprice END * 100, 0)
           AS BIGINT)) AS BIGINT)
  FROM orders, m
  WHERE NOT (o_custkey >= (3 * m.mx) // 5
             AND o_custkey < (3 * m.mx) // 5 + GREATEST(1, m.mx // 50))
)
SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
ORDER BY probe
""",
)
def orders_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL BY TIMESTAMP (Delta ``timestampAsOf`` / Iceberg
    snapshot-log lookup): "what did the table look like last Tuesday"
    resolves a wall-clock instant to the highest snapshot whose
    manifest was PUBLISHED at or before it — pure metadata arithmetic
    over the commit log's own timestamps. r13 (r12 advisor): the
    instant is PERSISTED INSIDE the manifest JSON (``_committed_at``,
    stamped by ``try_commit``), not read off file mtime — a table
    copy/restore/rsync that rewrites mtimes, or a clock step between
    commits, can no longer silently rewrite or reorder the
    time-travel history; mtime remains only as the legacy-manifest
    fallback.

    Determinism for the oracle: the demo commits the three versions
    with pinned instants (t=1000/2000/3000, passed as commit meta the
    way a replayed history carries its original times), then probes
    BETWEEN commits (t=1500 ->
    v1), ON a commit boundary (t=2000 -> v2, inclusive — the reader
    that asks "as of the commit instant" sees that commit), and
    AFTER head (t=9999 -> v3 == latest); a probe BEFORE the first
    commit raises (asserted) — there was no table then, and an empty
    frame would be a silent wrong answer. Each resolved snapshot's
    aggregate is hash-certified by the oracle replaying the version
    chain (v1 = orders, v2 = +100 CDC, v3 = v2 minus the deleted
    range). At 100 TB the resolution cost is one listing of O(versions)
    manifest names — independent of data size, like every other
    metadata operation in this store."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        as_of_version,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapasof_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table)
    assert try_commit(table, 0, v1_map,
                      meta={"_committed_at": 1000.0}) == 1

    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 20)
    del_lo, del_hi = (3 * maxck) // 5, (3 * maxck) // 5 + max(1, maxck // 50)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    dele = (F.col("ckey") >= del_lo) & (F.col("ckey") < del_hi)

    # v2: the +100 update, COW on its buckets
    v2_map = cow_rewrite(
        spark, table, 1,
        range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1),
        price_cdc(upd), "g2",
    )
    assert try_commit(table, 1, v2_map,
                      meta={"_committed_at": 2000.0}) == 2

    # v3: the delete, COW on its buckets
    v3_map = cow_rewrite(
        spark, table, 2,
        range(bucket_of(del_lo), bucket_of(del_hi - 1) + 1),
        lambda df: df.where(~dele), "g3",
    )
    assert try_commit(
        table, 2, v3_map, meta={"_committed_at": 3000.0}
    ) == 3

    assert as_of_version(table, 1500.0) == 1   # between commits
    assert as_of_version(table, 2000.0) == 2   # boundary: inclusive
    assert as_of_version(table, 9999.0) == 3   # after head == latest
    predates = False
    try:
        as_of_version(table, 500.0)
    except ValueError:
        predates = True
    assert predates, "pre-history probe must raise, not read nothing"

    def agg(ts: float, tag: str) -> DataFrame:
        v = as_of_version(table, ts)
        return (
            read_snapshot(spark, table, version=v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(tag).alias("probe"), "n_rows", "cents")
        )

    return (
        agg(1500.0, "t1")
        .unionByName(agg(2500.0, "t2"))
        .unionByName(agg(9999.0, "t3"))
    )


# ---------------------------------------------------------------------------
# r14: merge-on-read UPDATE (DV + post-image in ONE commit), the unified
# reader's capstone (evolved + deleted + pruned through one path), and
# CHECK constraints at the commit boundary.


@query(
    "orders_mor_update",
    tags=("snapshot", "merge-on-read", "update", "deletion-vector",
          "cdf", "compaction"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders),
head AS (
  SELECT o_orderkey,
         CASE WHEN o_custkey >= m.mx // 4
               AND o_custkey <  m.mx // 4 + GREATEST(1, m.mx // 200)
              THEN o_totalprice + 100.0 ELSE o_totalprice END AS p
  FROM orders, m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(p * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM head
""",
)
def orders_mor_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ UPDATE — the completion of the deletion-vector
    story (the r13 verdict's task 2): an UPDATE lands as ONE commit
    carrying a delete vector on the old keys PLUS a small post-image
    bucket, with ZERO rewritten data files (Iceberg v2 equality
    deletes + data files; Delta DVs + add files). The reference
    anchor is the February restatement (build_warehouse.py:159-169 /
    queries/ingest_demo.py's monthly loop), which r13 re-stated by
    COW-rewriting the month's bucket — here the same restatement
    costs one KB sidecar + one post-image file regardless of how big
    the bucket is.

    Script: v1 = 8 custkey buckets. v2 = MoR UPDATE (+100 on one
    custkey range): try_commit publishes {v1 buckets unchanged, u2 =
    post-images} with the DV staged atomically via its sidecars=
    param. Asserted: every v1 bucket's manifest entry is byte-
    identical, DESCRIBE HISTORY shows exactly one added bucket and
    zero re-points, and the unified reader serves the updated view.

    CHANGE FEED over the MoR commit: the DV-aware CDF source (r14,
    sources/cdfsource.py) emits the update as delete-rows from the
    DV'd buckets (pre-images, read from the UNCHANGED shared dirs)
    plus insert-rows from u2; a key-terminal fold ranking insert over
    delete within a commit reproduces the head exactly (exceptAll
    both ways, asserted) — a replica needs no special MoR handling.

    v3 = compaction: touched buckets rewrite (old minus doomed, plus
    their post-images), u2 and the DV retire together; carry-forward
    drops the vector WITH the re-point (asserted gone), and v2 == v3
    row-for-row (exceptAll both ways) — MoR and COW are two physical
    encodings of one table state.

    At 100 TB: the UPDATE's cost is the post-image write + two KB of
    metadata — the table's data files are untouched (asserted by
    manifest identity); readers pay one broadcast anti-filter until
    compaction folds it; the feed plans one task per DV'd-or-added
    bucket. The oracle replays the update arithmetic on raw orders."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_sidecar,
        read_snapshot,
        table_history,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir
    from financial_data_warehouse_automation_spark.sources.cdfsource import (
        SnapshotCDFDataSource,
    )

    n_buckets = 8
    work = scratch_dir("mordupd_")
    table = os.path.join(work, "table")
    os.makedirs(table)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").alias("ckey")
    )
    v1_map, bucket_of, maxck = seed_bucketed(o, table, n_buckets)
    assert try_commit(table, 0, v1_map) == 1

    # v2: the MoR UPDATE — DV on the old keys + post-image bucket,
    # one atomic commit, zero rewritten data files
    # a 0.5% custkey band: a DV is by contract SMALL (KBs of keys);
    # an update of 5%+ of the table should COW its buckets instead —
    # the writer picks per commit (and the reader switches to a
    # broadcast anti-join above 1k keys either way)
    upd_lo, upd_hi = maxck // 4, maxck // 4 + max(1, maxck // 200)
    upd = (F.col("ckey") >= upd_lo) & (F.col("ckey") < upd_hi)
    touched = list(range(bucket_of(upd_lo), bucket_of(upd_hi - 1) + 1))
    doomed = {
        str(b): sorted(
            r.o_orderkey
            for r in read_snapshot(spark, table, version=1, buckets=[b])
            .where(upd).select("o_orderkey").collect()
        )
        for b in touched
    }
    assert any(doomed.values()), "update range selected nothing"
    d_post = os.path.join(table, "u2")
    (
        read_snapshot(spark, table, version=1, buckets=touched)
        .where(upd)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .coalesce(1)
        .write.parquet(d_post)
    )
    v2_map = dict(v1_map)
    v2_map["u2"] = d_post
    assert try_commit(
        table, 1, v2_map,
        sidecars={"deletes": {"column": "o_orderkey", "buckets": doomed}},
    ) == 2
    # zero rewrite, by manifest: every v1 bucket byte-identical
    assert {
        b: d for b, d in read_manifest(table, 2).items() if b != "u2"
    } == v1_map
    h2 = [h for h in table_history(table) if h["version"] == 2][0]
    assert (h2["added"], h2["removed"], h2["repointed"]) == (
        ["u2"], [], [],
    ), h2

    # the DV-aware change feed replays the MoR commit: deletes from
    # the unchanged buckets' pre-images + inserts from u2; a terminal
    # fold (insert outranks delete within a commit) rebuilds the head
    spark.dataSource.register(SnapshotCDFDataSource)
    out = os.path.join(work, "feed_out")
    ckpt = os.path.join(work, "ckpt")
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table)
        .option("keycol", "o_orderkey")
        .option("startversion", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    drain(q)
    feed = spark.read.parquet(out)
    prio = F.when(
        F.col("change_type").isin("insert", "update_postimage"), 2
    ).otherwise(1)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("commit_version").desc(), prio.desc()
    )
    replica = (
        feed.where(F.col("change_type") != "update_preimage")
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("change_type") != "delete"))
        .select("o_orderkey", "o_totalprice", "ckey")
    )
    head = read_snapshot(spark, table, version=2).select(
        "o_orderkey", "o_totalprice", "ckey"
    )
    # one-action signed-count multiset equality (was counts+exceptAll,
    # 3 actions each re-folding the feed / re-reading the snapshot)
    assert_multiset_equal(replica, head, "CDF replica vs MoR head")

    # v3: compaction folds the update — touched buckets rewrite with
    # their post-images merged home, u2 and the DV retire together
    fb = range_bucket("ckey", n_buckets, maxck)
    v3_map = dict(v1_map)
    for b in touched:
        d3 = os.path.join(table, f"b{b}-g3")
        (
            read_snapshot(spark, table, version=1, buckets=[b])
            .where(~upd)
            .unionByName(
                spark.read.parquet(d_post).where(fb == F.lit(b))
            )
            .write.parquet(d3)
        )
        v3_map[str(b)] = d3
    assert try_commit(table, 2, v3_map) == 3
    assert read_sidecar(table, 3, "deletes") is None  # folded, gone
    v2_df = read_snapshot(spark, table, version=2)
    v3_df = read_snapshot(spark, table, version=3)
    assert_multiset_equal(v2_df, v3_df, "MoR v2 vs compacted v3")

    return read_snapshot(spark, table).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint").alias("cents"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@query(
    "orders_evolved_dv_pruned_read",
    tags=("snapshot", "schema-evolution", "deletion-vector",
          "scan-planner", "unified-reader", "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_orderkey) AS mk FROM orders),
base AS (
  SELECT o_orderkey AS okey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS revenue_cents,
         CASE WHEN EXTRACT(YEAR FROM o_orderdate) >= 1998
              THEN o_orderpriority END AS tag,
         EXTRACT(YEAR FROM o_orderdate) AS yr, m.mk AS mk
  FROM orders, m
),
live AS (
  SELECT * FROM base
  WHERE NOT (yr <= 1997 AND okey % 97 = 0
             AND okey >= (2 * (mk + 1)) // 4
             AND okey <  (3 * (mk + 1)) // 4)
)
SELECT CAST('head' AS VARCHAR) AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(revenue_cents) AS BIGINT) AS cents,
       CAST(COUNT(tag) AS BIGINT) AS n_tagged
FROM live
UNION ALL
SELECT 'k2_range', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(revenue_cents) AS BIGINT), CAST(COUNT(tag) AS BIGINT)
FROM live
WHERE okey >= (2 * (mk + 1)) // 4 AND okey < (3 * (mk + 1)) // 4
ORDER BY probe
""",
)
def orders_evolved_dv_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE UNIFIED READER'S CAPSTONE (the r13 verdict's task 1 done-
    criterion): one table that has EVOLVED ITS SCHEMA (rename + add
    column), TAKEN A MERGE-ON-READ DELETE, and CARRIES STATS — the
    normal state of a long-lived production table — served by the ONE
    read path (operators/snapshots.read_snapshot: plan_scan pruning →
    column-mapped read → DV anti-filter), with every commit after v1
    relying on try_commit's sidecar CARRY-FORWARD rather than
    re-staging anything.

    Timeline (physical fields f1/f2/f3; logical names live only in
    the schema sidecar): v1 = pre-1998 history in 4 orderkey-range
    buckets with schema (okey, cents) + per-bucket okey min/max
    stats, staged atomically via try_commit's sidecars= param. v2 =
    RENAME cents -> revenue_cents: a metadata-only commit (manifest
    asserted identical; stats asserted CARRIED). v3 = DV DELETE of
    the okey%97==0 keys inside bucket k2 (manifest again identical).
    v4 = ADD COLUMN tag arriving WITH the 1998+ append (only the new
    bucket carries f3; old buckets' signatures and the DV are
    asserted carried — the v3 vector survives the unrelated append,
    the exact resurrection trap the r13 advisor flagged).

    The k2-range probe then demonstrates the composition: the planner
    prunes k0/k1/k3 on CARRIED stats (trace asserted == [k2, p98] —
    the append bucket spans the keyspace and is honestly kept), the
    mapped read projects two schema generations to logical names, and
    the DV filters the doomed keys — all through one function call.

    At 100 TB: every layer is metadata arithmetic (KB-scale JSON) or
    a broadcast anti-filter; a rename/add/delete costs zero data I/O
    and the probe opens 2 of 5 directories. The oracle replays the
    rename, the add, the delete, and the range from raw orders."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_manifest,
        read_sidecar,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapevdv_")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("f1"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("f2"),
        F.col("o_orderpriority").alias("f3"),
        F.year("o_orderdate").alias("yr"),
    )
    mk = o.agg(F.max("f1").alias("m")).collect()[0].m
    bounds = [(i * (mk + 1)) // 4 for i in range(5)]  # b0..b4, half-open

    kb = (
        F.when(F.col("f1") < bounds[1], "k0")
        .when(F.col("f1") < bounds[2], "k1")
        .when(F.col("f1") < bounds[3], "k2")
        .otherwise("k3")
    )
    root = os.path.join(table, "g1")
    (
        o.where(F.col("yr") <= 1997)
        .select("f1", "f2", kb.alias("pb"))
        .write.partitionBy("pb").parquet(root)
    )
    v1_map = {
        n.split("=", 1)[1]: os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("pb=")
    }
    assert sorted(v1_map) == ["k0", "k1", "k2", "k3"], sorted(v1_map)
    stats = {
        r.pb: {"okey": [r.mn, r.mx]}
        for r in o.where(F.col("yr") <= 1997)
        .groupBy(kb.alias("pb"))
        .agg(F.min("f1").alias("mn"), F.max("f1").alias("mx"))
        .collect()
    }
    assert try_commit(
        table, 0, v1_map,
        sidecars={
            "schema": {
                "fields": {"okey": "f1", "cents": "f2"},
                "buckets": {b: ["f1", "f2"] for b in v1_map},
            },
            "stats": stats,
        },
    ) == 1

    # v2: RENAME cents -> revenue_cents — metadata only; stats carry
    assert try_commit(
        table, 1, v1_map,
        sidecars={
            "schema": {
                "fields": {"okey": "f1", "revenue_cents": "f2"},
                "buckets": {},
            },
        },
    ) == 2
    assert read_manifest(table, 2) == v1_map
    assert read_sidecar(table, 2, "stats") == stats  # carried forward

    # v3: merge-on-read DELETE inside k2 — zero rewrite; schema and
    # stats carry forward untouched
    doomed = sorted(
        r.okey
        for r in read_snapshot(spark, table, version=1, buckets=["k2"])
        .where(F.col("okey") % 97 == 0).select("okey").collect()
    )
    assert doomed, "the delete predicate selected nothing"
    assert try_commit(
        table, 2, v1_map,
        sidecars={"deletes": {"column": "okey", "buckets": {"k2": doomed}}},
    ) == 3
    assert read_manifest(table, 3) == v1_map
    assert read_sidecar(table, 3, "schema")["fields"] == {
        "okey": "f1", "revenue_cents": "f2",
    }

    # v4: ADD COLUMN tag WITH the 1998+ append — the unrelated commit
    # that used to resurrect DV'd rows; everything carries
    d98 = os.path.join(table, "p98")
    p98 = o.where(F.col("yr") >= 1998).select("f1", "f2", "f3")
    p98.write.parquet(d98)
    mn98, mx98 = p98.agg(F.min("f1"), F.max("f1")).collect()[0]
    v4_map = dict(v1_map)
    v4_map["p98"] = d98
    assert try_commit(
        table, 3, v4_map,
        sidecars={
            "schema": {
                "fields": {
                    "okey": "f1", "revenue_cents": "f2", "tag": "f3",
                },
                "buckets": {"p98": ["f1", "f2", "f3"]},
            },
            "stats": {"p98": {"okey": [mn98, mx98]}},
        },
    ) == 4
    dv4 = read_sidecar(table, 4, "deletes")
    assert dv4 == {"column": "okey", "buckets": {"k2": doomed}}, \
        "the delete vector must survive the unrelated append"
    assert read_sidecar(table, 4, "schema")["buckets"]["k0"] == ["f1", "f2"]
    assert sorted(read_sidecar(table, 4, "stats")) == [
        "k0", "k1", "k2", "k3", "p98",
    ]

    # the composed probe: stats prune k0/k1/k3; k2 + the keyspace-
    # spanning append survive; mapping + DV apply on top
    lo2, hi2 = bounds[2], bounds[3]
    preds = [("range", "okey", lo2, hi2)]
    _, trace = plan_scan(table, preds, explain=True)
    assert trace["after_stats"] == ["k2", "p98"], trace

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("revenue_cents").cast("bigint").alias("cents"),
            F.count("tag").cast("bigint").alias("n_tagged"),
        ).select(F.lit(tag).alias("probe"), "n_rows", "cents", "n_tagged")

    ranged = read_snapshot(spark, table, preds).where(
        (F.col("okey") >= lo2) & (F.col("okey") < hi2)
    )
    return (
        agg(read_snapshot(spark, table), "head")
        .unionByName(agg(ranged, "k2_range"))
    )


@query(
    "orders_commit_check_constraints",
    tags=("snapshot", "check-constraints", "commit", "quality-gate"),
    oracle="""
WITH pre AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS c
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) <= 1997
), full_t AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS c
  FROM orders
)
SELECT CAST('head' AS VARCHAR) AS snapshot,
       CAST(n AS BIGINT) AS n_rows, CAST(c AS BIGINT) AS cents
FROM full_t
UNION ALL
SELECT 'v1', CAST(n AS BIGINT), CAST(c AS BIGINT) FROM pre
ORDER BY snapshot
""",
)
def orders_commit_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECK CONSTRAINTS AT THE COMMIT BOUNDARY (Delta table CHECK
    constraints / Iceberg write validation): the writer's protocol is
    stage -> check_constraints -> try_commit, so a batch violating a
    table invariant NEVER publishes a manifest — the table's history
    contains only checked states, which is the commit-time twin of
    the reference's row-level QA ledger (build_warehouse.py's
    missing-mapping quarantine flags bad ROWS for later resolution;
    a CHECK constraint refuses bad COMMITS outright).

    Script: v1 = the pre-1998 history under two checks (positive
    price, key present) — passes. A poisoned 1998+ batch (negated
    prices, one NULL key) is staged and CHECKED: the violation raises
    with per-check counts, the table head is asserted still v1, no
    v2 manifest exists, and the staged directory is left as ordinary
    GC food (asserted reclaimed by expire_snapshots). The CLEAN 1998+
    batch then passes the same checks and commits as v2.

    All checks evaluate in ONE aggregation pass over the STAGED frame
    (conditional sums, map-side combined), so at 100 TB the gate
    costs the write's scan, never the table's; NULL check results
    count as violations (a bare WHERE would silently pass them). The
    oracle replays v1 and the head from raw orders."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        CommitCheckViolation,
        check_constraints,
        expire_snapshots,
        latest_version,
        manifest_path,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapcheck_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("yr")
    )
    checks = {
        "positive_price": "o_totalprice > 0",
        "key_present": "o_orderkey IS NOT NULL",
    }

    d1 = os.path.join(table, "pre98")
    pre = o.where(F.col("yr") <= 1997).drop("yr")
    pre.write.parquet(d1)
    check_constraints(spark.read.parquet(d1), checks)
    assert try_commit(table, 0, {"pre98": d1}) == 1

    # the poisoned batch: staged, checked, REFUSED — never published
    d_bad = os.path.join(table, "late98_bad")
    bad = o.where(F.col("yr") >= 1998).drop("yr").withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    bad = bad.unionByName(
        spark.createDataFrame(
            [(None, 1.0)], "o_orderkey long, o_totalprice double"
        )
    )
    bad.write.parquet(d_bad)
    try:
        check_constraints(spark.read.parquet(d_bad), checks)
        raise AssertionError("poisoned batch passed its checks")
    except CommitCheckViolation as e:
        assert "positive_price" in str(e) and "key_present" in str(e)
    assert latest_version(table) == 1  # nothing published
    assert not os.path.exists(manifest_path(table, 2))

    # the clean batch passes the same gate and commits
    d2 = os.path.join(table, "late98")
    o.where(F.col("yr") >= 1998).drop("yr").write.parquet(d2)
    check_constraints(spark.read.parquet(d2), checks)
    assert try_commit(table, 1, {"pre98": d1, "late98": d2}) == 2

    # the refused batch's staging is ordinary GC food (keep_from=1
    # retains all history; GC keys on referenced-by-no-manifest)
    _, removed_d = expire_snapshots(table, keep_from=1)
    assert removed_d == 1 and not os.path.exists(d_bad)

    def agg(version: int | None, tag: str) -> DataFrame:
        return read_snapshot(spark, table, version=version).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint").alias("cents"),
        ).select(F.lit(tag).alias("snapshot"), "n_rows", "cents")

    return agg(None, "head").unionByName(agg(1, "v1"))


@query(
    "orders_filegrain_skipping_snapshot",
    tags=("snapshot", "scan-planner", "file-skipping", "filestats",
          "metadata"),
    oracle="""
WITH m AS (SELECT MAX(o_orderkey) AS mk FROM orders),
b AS (
  SELECT o_orderkey AS okey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         EXTRACT(YEAR FROM o_orderdate) AS yr, m.mk AS mk
  FROM orders, m
),
r AS (
  SELECT * FROM b
  WHERE okey >= (2 * (mk + 1)) // 5
    AND okey <  (2 * (mk + 1)) // 5 + GREATEST(1, (mk + 1) // 50)
)
SELECT CAST('keyband' AS VARCHAR) AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM r
UNION ALL
SELECT 'year_keyband', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(cents) AS BIGINT)
FROM r WHERE yr = 1996
ORDER BY probe
""",
)
def orders_filegrain_skipping_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILE-GRAIN SKIPPING INSIDE THE SCAN PLANNER (r14) — the fourth
    pruning layer: per-FILE min/max bounds (Iceberg's file-level
    column stats inside split planning; Delta per-file stats in the
    log). Bucket-level stats answer 'which directories?'; at 100 TB a
    bucket is still thousands of files, and a planner that stops at
    the directory reads all of them. Here each year bucket is written
    RANGE-PARTITIONED on o_orderkey (repartitionByRange → each file
    covers a disjoint key range), the per-file bounds are harvested
    from the PARQUET FOOTERS the write already produced (zero extra
    data scan — the stats exist; the sidecar just lifts them to the
    planner), and plan_scan prunes files the way it prunes buckets.

    Probes, both oracle-replayed: (a) a 2% orderkey band — bucket
    stats CANNOT prune (every year spans the keyspace, trace
    asserted) but file stats keep at most 2 files per bucket (trace
    files_kept asserted << files_total); (b) year+band — the spec
    layer first drops 6 of 7 buckets, then file stats cut within the
    survivor; composition asserted layer by layer. The unified reader
    consumes the file-grain plan transparently (read paths are files,
    not dirs), and a bucket with NO filestats entry still reads whole
    — the layer is additive, never a correctness gate.

    At 100 TB: the sidecar is O(files) KB-scale JSON per bucket,
    planning stays driver-side arithmetic, and a needle query opens
    ~1 file per surviving bucket instead of the bucket — the same
    10-1000x I/O cut Iceberg gets from manifests' per-file stats."""
    import pyarrow.parquet as pq

    from financial_data_warehouse_automation_spark.operators.snapshots import (
        plan_scan,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import scratch_dir

    table = scratch_dir("snapfgs_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        .alias("cents"),
        F.year("o_orderdate").alias("yr"),
    )
    mk = o.agg(F.max("o_orderkey").alias("m")).collect()[0].m
    years = sorted(r.yr for r in o.select("yr").distinct().collect())

    mapping: dict[str, str] = {}
    spec: dict[str, dict] = {}
    fstats: dict[str, dict] = {}
    for y in years:
        b = f"y{y}"
        d = os.path.join(table, b)
        (
            o.where(F.col("yr") == y)
            .repartitionByRange(6, "o_orderkey")
            .write.parquet(d)
        )
        mapping[b] = d
        spec[b] = {"column": "yr", "value": int(y)}
        entry: dict[str, dict] = {}
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, fname)).metadata
            lo = hi = None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema != "o_orderkey":
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            # a file without footer stats is conservatively unbounded
            entry[fname] = {} if lo is None else {"okey": [lo, hi]}
        fstats[b] = entry
    assert try_commit(
        table, 0, mapping,
        sidecars={"spec": spec, "filestats": fstats},
    ) == 1

    klo = (2 * (mk + 1)) // 5
    khi = klo + max(1, (mk + 1) // 50)
    band = [("range", "okey", klo, khi)]

    # probe (a): bucket layers cannot prune a key band (every year
    # spans the keyspace) — the FILE layer does the work
    _, tr_a = plan_scan(table, band, explain=True)
    assert tr_a["after_spec"] == sorted(mapping), tr_a
    assert tr_a["files_total"] >= 3 * len(years), tr_a
    assert 1 <= tr_a["files_kept"] <= 2 * len(years), tr_a
    assert tr_a["files_kept"] <= tr_a["files_total"] // 2, tr_a

    # probe (b): spec drops 6 of 7 buckets FIRST, files cut within
    yk = band + [("in", "yr", [1996])]
    _, tr_b = plan_scan(table, yk, explain=True)
    assert tr_b["after_spec"] == ["y1996"], tr_b
    assert 1 <= tr_b["files_kept"] <= 2, tr_b

    def agg(preds: list, residual, tag: str) -> DataFrame:
        return (
            read_snapshot(spark, table, preds)
            .where(residual)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
            .select(F.lit(tag).alias("probe"), "n_rows", "cents")
        )

    in_band = (F.col("o_orderkey") >= klo) & (F.col("o_orderkey") < khi)
    return (
        agg(band, in_band, "keyband")
        .unionByName(
            agg(yk, in_band & (F.col("yr") == 1996), "year_keyband")
        )
    )


@query(
    "orders_concurrent_same_bucket_merge",
    tags=("layout", "snapshot", "occ", "conflict-detection",
          "merge", "maintenance"),
    oracle="""
WITH base AS (
  SELECT o_orderkey AS okey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
         + CASE WHEN o_orderkey % 10 = 7 THEN 11100 ELSE 0 END
         + CASE WHEN o_orderkey % 8 = 3 AND o_orderkey % 10 = 5
                THEN 100000 ELSE 0 END AS cents
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents,
       CAST(SUM(CASE WHEN okey % 10 = 7 THEN cents END) AS BIGINT)
         AS merged_cents,
       CAST(SUM(CASE WHEN okey % 8 = 3 AND okey % 10 = 5 THEN cents END)
            AS BIGINT) AS rival_cents
FROM base
""",
)
def orders_concurrent_same_bucket_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAME-BUCKET CONCURRENT WRITERS, CONFLICT DETECTED AND RE-FOLDED
    (r15 — the r14 verdict's task 1b, and the multi-writer sibling of
    orders_snapshot_concurrent_commit, whose two writers touch
    DISJOINT buckets): writer A MERGEs a batch of updates into the
    buckets its keys live in; between A's fold (which read the
    buckets' previous state) and A's commit, writer B publishes a new
    image of ONE OF THOSE SAME buckets. The r14 rebase loop would
    re-point A's staged buckets onto the latest manifest —
    last-rebaser-wins, silently erasing B's effect (the r14 verdict's
    #1 latent trap). The r15 loop DETECTS that a touched bucket moved,
    discards the stale fold, and re-runs the merge against B's state:
    the final table carries BOTH effects, which the oracle replays
    from raw orders.

    Scripted interleaving (how concurrency protocols are demonstrated
    honestly — the race is nondeterministic, the protocol's response
    to each interleaving is not): the side effect is planted INSIDE
    A's merge function, so B's commit lands after A reads ``prev``
    and before A's CAS — the exact window where clobbering happened.
    Asserted: the merge provably ran TWICE (fold + re-fold); B's
    intermediate version carries B's effect and NOT A's (history
    isolation); the final version carries both; untouched buckets'
    directories are byte-identical to v1 (COW sharing survives the
    re-fold).

    A's intent: +111.00 on keys ``okey % 10 == 7`` (their home
    buckets under ``pb = okey % 8`` are {1,3,5,7}).
    B's commit: +1000.00 on ``okey % 10 == 5`` keys of bucket 3 — a
    touched bucket, disjoint keys.

    At 100 TB: detection cost is a dict comparison over the touched
    buckets' manifest entries (KB metadata, no data read); the
    re-fold re-shuffles only the BATCH against the touched buckets —
    churn-proportional, never table-proportional — and commits that
    touch other buckets never trigger it (pinned in
    tests/test_snapshots.py). Iceberg/Delta run the same commit-time
    overlap validation.

    Reference: Code.gs:27-31's single global lock is the degenerate
    form — serialize everything; this is the scalable form —
    serialize only true overlap, re-derive when it happens."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        latest_version,
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import (
        scratch_dir,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_partitioned_state_commit_batch,
    )
    from financial_data_warehouse_automation_spark.tables import load_table

    table = scratch_dir("samebucket_")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        .alias("cents"),
    )

    root = os.path.join(table, "g1")
    o.withColumn("pb", (F.col("okey") % 8).cast("int")) \
        .write.partitionBy("pb").parquet(root)
    v1_map = {
        n.split("=", 1)[1]: os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("pb=")
    }
    assert try_commit(table, 0, v1_map) == 1

    # A's batch: the post-image rows of its update (intent computed
    # against v1; its keys are disjoint from B's, as a MERGE whose
    # source overlaps a rival's keys would need key-level, not
    # bucket-level, reconciliation)
    batch = o.where(F.col("okey") % 10 == 7).withColumn(
        "cents", F.col("cents") + 11100
    )
    calls = {"n": 0}

    def merge(prev: DataFrame, b: DataFrame) -> DataFrame:
        calls["n"] += 1
        if calls["n"] == 1:
            # B lands AFTER A read prev, BEFORE A commits: rewrite
            # bucket 3 (+1000.00 on its okey%10==5 keys)
            d_b = os.path.join(table, "rival-b3")
            (
                read_snapshot(spark, table, version=1, buckets=["3"])
                .withColumn(
                    "cents",
                    F.when(
                        F.col("okey") % 10 == 5,
                        F.col("cents") + 100000,
                    ).otherwise(F.col("cents")),
                )
                .write.parquet(d_b)
            )
            m2 = dict(read_manifest(table))
            m2["3"] = d_b
            assert try_commit(table, latest_version(table), m2) == 2
        src = b.select("okey", "cents")
        if prev is None:
            return src
        return prev.select("okey", "cents").join(
            src.select("okey"), "okey", "left_anti"
        ).unionByName(src)

    fn = snapshot_partitioned_state_commit_batch(
        table, merge, lambda df: (F.col("okey") % 8).cast("int"),
        writer_id="merge",
    )
    fn(batch, 0)

    assert calls["n"] == 2, "conflict must trigger a re-fold"
    assert latest_version(table) == 3
    # history isolation: B's v2 carries B's effect but NOT A's —
    # A's keys still read their v1 base values at v2
    v2 = read_snapshot(spark, table, version=2)
    assert v2.where(F.col("okey") % 10 == 7).join(
        o.withColumnRenamed("cents", "base_cents"), "okey"
    ).where(F.col("cents") != F.col("base_cents")).count() == 0
    assert v2.where(
        (F.col("okey") % 8 == 3) & (F.col("okey") % 10 == 5)
    ).join(
        o.withColumnRenamed("cents", "base_cents"), "okey"
    ).where(
        F.col("cents") != F.col("base_cents") + 100000
    ).count() == 0
    # COW sharing: buckets untouched by either writer are v1's dirs
    v3_map = read_manifest(table, 3)
    for bkt in ("0", "2", "4", "6"):
        assert v3_map[bkt] == v1_map[bkt], bkt

    final = read_snapshot(spark, table, version=3)
    n_rival = final.where(
        (F.col("okey") % 8 == 3) & (F.col("okey") % 10 == 5)
    ).count()
    assert n_rival > 0, "rival's key set must be non-empty at this SF"

    return final.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("cents"),
        F.sum(
            F.when(F.col("okey") % 10 == 7, F.col("cents"))
        ).cast("bigint").alias("merged_cents"),
        F.sum(
            F.when(
                (F.col("okey") % 8 == 3) & (F.col("okey") % 10 == 5),
                F.col("cents"),
            )
        ).cast("bigint").alias("rival_cents"),
    )


@query(
    "orders_sorted_merge_keep_last",
    tags=("layout", "snapshot", "sortorder", "merge", "dedupe",
          "zero-shuffle"),
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                + (o_orderkey % 3 + 1) * 100) AS BIGINT) AS cents,
       CAST(SUM(o_orderkey % 3 + 1) AS BIGINT) AS seq_sum
FROM orders
""",
)
def orders_sorted_merge_keep_last(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SORT-ORDER METADATA BUYS A SHUFFLE-FREE, SORT-FREE MERGE (r15
    — the r14 verdict's task 5: record what Iceberg calls the table's
    sort order, then PROVE a consumer can cash it in). A versions
    table (each order delivered 1-3 times, ``seq``-stamped, cents
    drifting +100 per delivery) is written key-bucketed
    (``pb = okey % 8``) and SORTED WITHIN EACH BUCKET by
    ``(okey, seq)``; the commit stamps a ``sortorder`` sidecar. The
    keep-last-per-key merge — the reference's A2 upsert semantics,
    build_warehouse.py:159-169 — then runs TWO ways:

    * CONTROL (layout-ignorant): the standard window plan
      (row_number over okey ordered by seq desc) — Catalyst plans an
      Exchange (hash-shuffle every row) plus a Sort. Correct
      anywhere, pays the full shuffle.
    * FAST (sidecar-directed): the consumer checks
      ``table_sort_order`` declares the ``(okey, seq)`` prefix for
      EVERY bucket, that buckets partition the key space, and that
      each bucket is a single file smaller than the read split size
      (so Spark cannot interleave or split a bucket mid-key); it
      then runs ONE streaming pass per partition (Arrow-batched
      ``mapInPandas``, dict of last row per key) — the physical plan
      contains NO Exchange and NO Sort (asserted on the plan
      string), because the layout already did that work at write
      time. Any precondition failing falls back to the control plan
      (asserted by re-pointing a bucket: the carried order drops and
      the fast path refuses).

    Both paths are asserted row-identical (exceptAll, both
    directions); the oracle replays the closed form from raw orders.

    At 100 TB: the window plan shuffles the full versions table every
    merge; the sorted layout amortizes ONE write-time sort across
    every later merge/as-of/range consumer — the standard LSM/Iceberg
    trade. The single-file precondition is the demo's split-safety
    fence; a production reader makes buckets split-proof natively
    (Spark's bucketBy tables, Iceberg split planning) with the same
    metadata contract."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
        table_sort_order,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import (
        scratch_dir,
    )
    from financial_data_warehouse_automation_spark.tables import load_table

    table = scratch_dir("sortmerge_")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        .alias("base_cents"),
    )
    ups = (
        o.withColumn(
            "seq",
            F.explode(
                F.sequence(F.lit(1), (F.col("okey") % 3 + 1).cast("int"))
            ),
        )
        .withColumn("cents", F.col("base_cents") + F.col("seq") * 100)
        .withColumn("pb", (F.col("okey") % 8).cast("int"))
        .select("okey", "seq", "cents", "pb")
    )
    root = os.path.join(table, "g1")
    (
        ups.repartition(8, "pb")
        .sortWithinPartitions("pb", "okey", "seq")
        .write.partitionBy("pb").parquet(root)
    )
    v1_map = {
        n.split("=", 1)[1]: os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("pb=")
    }
    order = [["okey", "asc"], ["seq", "asc"]]
    assert try_commit(table, 0, v1_map, sidecars={
        "sortorder": {b: order for b in v1_map},
    }) == 1

    def bucket_files(d: str) -> list[str]:
        return [n for n in os.listdir(d) if n.endswith(".parquet")]

    def keep_last_fast(version: int) -> DataFrame | None:
        """The sidecar-directed plan, or None when the layout does
        not guarantee it (caller falls back to the window plan)."""
        mani = read_manifest(table, version)
        so = table_sort_order(table, version) or {}
        want = [["okey", "asc"], ["seq", "asc"]]
        split_bytes = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
            .removesuffix("b")
        )
        for b, d in mani.items():
            if (so.get(b) or [])[:2] != want:
                return None  # not declared sorted: cannot elide
            files = bucket_files(d)
            if len(files) != 1:
                return None  # a key's rows could span files
            if os.path.getsize(os.path.join(d, files[0])) >= split_bytes:
                return None  # Spark would split the file mid-key
        src = read_snapshot(spark, table, version=version)

        def fold(it):
            import pandas as pd

            acc = None
            for pdf in it:
                last = pdf.drop_duplicates(subset=["okey"], keep="last")
                if acc is None:
                    acc = last
                else:
                    acc = pd.concat([acc, last]).drop_duplicates(
                        subset=["okey"], keep="last"
                    )
            if acc is not None:
                yield acc

        return src.mapInPandas(
            fold, "okey bigint, seq int, cents bigint"
        )

    fast = keep_last_fast(1)
    assert fast is not None, "sorted layout must qualify"
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fast.explain()
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan  # zero shuffle
    assert "Sort" not in plan, plan      # zero re-sort

    control = (
        read_snapshot(spark, table, version=1)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("okey").orderBy(F.col("seq").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("okey", "seq", "cents")
    )
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        control.explain()
    cplan = buf2.getvalue()
    assert "Exchange" in cplan and "Sort" in cplan, cplan

    # identical rows (one-action signed-count multiset equality; was
    # exceptAll in both directions = 2 actions × 2 evaluations each)
    assert_multiset_equal(fast, control, "sorted fast path vs control")

    # the fence: a re-pointed bucket drops its declaration and the
    # fast path REFUSES (falls back) instead of computing wrong rows
    d_rw = os.path.join(table, "g2-b3")
    read_snapshot(spark, table, version=1, buckets=["3"]).orderBy(
        F.rand(7)
    ).write.parquet(d_rw)
    v2_map = dict(v1_map)
    v2_map["3"] = d_rw
    assert try_commit(table, 1, v2_map) == 2
    assert keep_last_fast(2) is None

    return fast.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("cents"),
        F.sum("seq").cast("bigint").alias("seq_sum"),
    )
