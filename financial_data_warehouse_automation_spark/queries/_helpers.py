"""Shared column helpers for oracle-checkable queries.

See the determinism rules in ``registry.py``: money-like doubles are cast
to ``decimal(12,2)`` (rates to ``decimal(6,4)``) before any aggregation so
Spark's shuffle-order-dependent double addition can't diverge from the
DuckDB oracle; final aggregates are cast back to double.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(col: str | Column) -> Column:
    """Money-ish double → exact decimal(12,2) for order-independent sums."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def rate(col: str | Column) -> Column:
    """Unit-interval rate (discount/tax) → decimal(6,4)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(6,4)")


def dsum(col: Column) -> Column:
    """Exact decimal sum, emitted as double."""
    return F.sum(col).cast("double")


def davg(col: Column) -> Column:
    """Deterministic average: exact decimal sum / count, divided in double.

    (Spark's and DuckDB's AVG over decimals pick different result scales;
    a double division of exact operands is bit-identical in both.)
    """
    return F.sum(col).cast("double") / F.count(F.lit(1))


# SQL-side equivalents (DuckDB), kept textually adjacent so the two
# formulations stay in sync.
SQL_MONEY = "CAST({c} AS DECIMAL(12,2))"
SQL_RATE = "CAST({c} AS DECIMAL(6,4))"


def sql_money(c: str) -> str:
    return SQL_MONEY.format(c=c)


def sql_rate(c: str) -> str:
    return SQL_RATE.format(c=c)


def assert_multiset_equal(a, b, what: str = "frames") -> None:
    """Assert two DataFrames are multiset-equal (same rows, same
    multiplicities) in ONE Spark action.

    The protocol demos' original idiom —
    ``assert a.count() == b.count()`` plus one or two
    ``a.exceptAll(b).count() == 0`` — costs two to four actions, each
    re-evaluating its input's whole lineage (a snapshot read, a feed
    fold). The signed-count form computes the identical predicate in a
    single pass: tag every ``a`` row +1 and every ``b`` row −1, group
    by the full row, and any group whose weights don't cancel is a
    difference. One union, one aggregation, one action; map-side
    partial aggregation collapses duplicates before the only shuffle,
    and NULL grouping keys compare equal (as exceptAll treats them) —
    a null-safe full-outer-join formulation would need per-column
    ``<=>`` plumbing to get that right (guide §2.4: fewer passes; §5:
    the driver orchestrates one job instead of three).

    ``b`` is projected to ``a``'s columns, so column ORDER may differ;
    types must match as they must for exceptAll. Column SETS must match
    exactly (r16, advisor): the projection would silently drop an extra
    ``b`` column before comparing, so a replica that gained a column
    would pass the gate on the projected subset — exceptAll failed
    loudly on that drift, and so does this.
    """
    cols = a.columns
    assert set(cols) == set(b.columns), (
        f"{what}: column sets differ — a-only={sorted(set(cols) - set(b.columns))} "
        f"b-only={sorted(set(b.columns) - set(cols))}"
    )
    tagged = a.select(*cols).withColumn("_w", F.lit(1)).unionByName(
        b.select(*cols).withColumn("_w", F.lit(-1))
    )
    n_diff = (
        tagged.groupBy(*cols)
        .agg(F.sum("_w").alias("_d"))
        .where(F.col("_d") != 0)
        .count()
    )
    assert n_diff == 0, f"{what}: {n_diff} row-groups differ in multiplicity"


def range_bucket(key: str, n_buckets: int, maxck: int) -> Column:
    """Bucket id of ``key`` under ``n_buckets`` equal-width ranges of
    ``[0, maxck]`` — the column twin of :func:`seed_bucketed`'s
    ``bucket_of``."""
    return F.least(
        F.lit(n_buckets - 1), F.floor(F.col(key) * n_buckets / (maxck + 1))
    ).cast("int")


def seed_bucketed(df, table: str, n_buckets: int = 8, bucket_id: str = "{b}"):
    """Write ``df`` as a snapshot table's first generation: ``ckey``
    range-bucketed into ``n_buckets`` flat per-bucket top-level
    directories ``table/b<i>-g1``, with ONE Spark job.

    Returns ``(v1_map, bucket_of, maxck)``: ``v1_map`` maps each bucket
    id (``bucket_id.format(b=i)``) to its directory and is what the
    caller commits as version 1 (after staging any sidecars);
    ``bucket_of(c)`` is the bucket index of key value ``c``; ``maxck``
    is ``max(ckey)``.

    One ``partitionBy`` write produces every bucket's file set
    (``partitionBy`` drops the bucket column from the data files); the
    partition dirs are then RENAMED to top-level entries, because
    :func:`expire_snapshots` collects garbage per top-level entry — in
    this layout GC is exact per bucket. Renames are same-filesystem
    metadata ops. A bucket with zero rows raises: the demos' bucket
    math assumes a populated key range."""
    maxck = df.agg(F.max("ckey").alias("m")).collect()[0].m
    stage = os.path.join(table, "_stage_g1")
    df.withColumn("pb", range_bucket("ckey", n_buckets, maxck)).write \
        .partitionBy("pb").mode("overwrite").parquet(stage)
    v1_map: dict[str, str] = {}
    for b in range(n_buckets):
        src = os.path.join(stage, f"pb={b}")
        if not os.path.isdir(src):
            raise AssertionError(
                f"bucket {b} of {n_buckets} got zero rows — the demo's "
                "bucket math assumes a populated key range"
            )
        dst = os.path.join(table, f"b{b}-g1")
        os.rename(src, dst)
        v1_map[bucket_id.format(b=b)] = dst
    shutil.rmtree(stage)  # _SUCCESS marker and the emptied stage root

    def bucket_of(c: int) -> int:
        return min(n_buckets - 1, c * n_buckets // (maxck + 1))

    return v1_map, bucket_of, maxck


def price_cdc(upd: Column, dele: Column | None = None, bump: float = 100.0):
    """The storage demos' CDC batch as a :func:`cow_rewrite` function:
    drop the ``dele`` rows, then add ``bump`` to ``o_totalprice`` on
    the ``upd`` rows."""

    def fn(df):
        if dele is not None:
            df = df.where(~dele)
        return df.withColumn(
            "o_totalprice",
            F.when(upd, F.col("o_totalprice") + bump).otherwise(
                F.col("o_totalprice")
            ),
        )

    return fn


def cow_rewrite(spark, table: str, version: int, buckets, fn, gen: str):
    """Copy-on-write ``buckets`` of ``table``'s committed ``version``:
    each bucket, read through ``read_snapshot`` (so its deletion vector
    applies), goes through ``fn(DataFrame) -> DataFrame`` into a fresh
    ``table/b<b>-<gen>``. Returns the version's mapping with those
    buckets re-pointed; every other bucket keeps its directory string,
    shared verbatim with the base version."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
    )

    out = read_manifest(table, version)
    for b in buckets:
        d = os.path.join(table, f"b{b}-{gen}")
        fn(
            read_snapshot(spark, table, version=version, buckets=[b])
        ).write.parquet(d)
        out[str(b)] = d
    return out


def drain(query) -> None:
    """Run a started stream until it has processed everything its
    source holds now, then stop it. A ``snapshot_cdf`` subscription
    starts with the default trigger and drains here: its Python reader
    does not support ``availableNow``, for which Spark falls back to
    one batch, so a restart whose checkpoint holds an uncommitted batch
    would re-run only that batch and stop short of head."""
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        query.awaitTermination()


def scratch_dir(prefix: str) -> str:
    """Per-run /tmp scratch dir, removed at process exit — for queries
    that demonstrate a WRITE-side capability (compaction, schema
    evolution, custom sinks) and so must produce fresh files each run:
    content-addressed reuse would let repeat timings skip the work the
    query exists to measure, and a reused stream checkpoint would turn
    a repeat run into a no-op resume."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work
