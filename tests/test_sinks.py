"""S9–S13 sink/DDL semantics: sibling-table preservation, first-run
empty reads, create-if-not-exists."""

from __future__ import annotations

from financial_data_warehouse_automation_spark.operators.sinks import (
    ensure_table,
    overwrite_table,
    read_table_or_empty,
)


def test_overwrite_preserves_siblings(spark, tmp_path):
    final = str(tmp_path / "final")
    qa = str(tmp_path / "qa")
    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([(9, "q")], "k int, v string")
    overwrite_table(a, final)
    overwrite_table(b, qa)
    overwrite_table(a.withColumn("v", a.v.substr(1, 1)), final)  # rewrite one
    assert spark.read.parquet(qa).collect()[0].v == "q"  # sibling untouched
    assert spark.read.parquet(final).count() == 1


def test_read_table_or_empty_first_run(spark, tmp_path):
    schema = spark.createDataFrame([(1, "x")], "k int, v string").schema
    df = read_table_or_empty(spark, str(tmp_path / "missing"), schema)
    assert df.count() == 0
    assert df.schema == schema


def test_read_or_empty_raises_on_non_missing_failure(spark, tmp_path):
    """Only the missing-path case may yield the empty frame: a corrupt
    table read that returned empty would flow into a rebuild and
    overwrite the table. Both S9 and S13 must fail loudly instead."""
    import pytest

    schema = spark.createDataFrame([(1, "x")], "k int, v string").schema
    poisoned = tmp_path / "poisoned"
    poisoned.mkdir()
    (poisoned / "part-00000.snappy.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        read_table_or_empty(spark, str(poisoned), schema).collect()
    with pytest.raises(Exception):
        ensure_table(spark, str(poisoned), schema)
    # the poisoned dir is untouched — neither call wrote anything
    assert [p.name for p in poisoned.iterdir()] == ["part-00000.snappy.parquet"]


def test_ensure_table_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    schema = spark.createDataFrame([(1, "x")], "k int, v string").schema
    ensure_table(spark, path, schema)
    assert spark.read.parquet(path).count() == 0
    spark.createDataFrame([(5, "y")], schema).write.mode("append").parquet(path)
    ensure_table(spark, path, schema)  # must not clobber existing data
    assert spark.read.parquet(path).count() == 1


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """The 100 TB posture: warehouse partitioned by (year, month) —
    a period-scoped read must scan only that partition's files."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice",
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
    )
    path = str(tmp_path / "wh")
    overwrite_table(o, path, partition_by=("year", "month"))
    pruned = spark.read.parquet(path).where((F.col("year") == 1996) & (F.col("month") == 2))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filters land in the scan, not a post-filter
    assert "PartitionFilters: [isnotnull(year" in plan
    expected = o.where((F.col("year") == 1996) & (F.col("month") == 2)).count()
    assert pruned.count() == expected


def test_schema_evolution_merge_and_union(spark, tmp_path):
    """Schema evolution at the warehouse boundary (SURVEY §1.4: the GS
    version added a Group column the Python version lacked): a later
    load carries an extra column. mergeSchema reads the union schema
    with NULL back-fill for old files; unionByName(allowMissingColumns)
    does the same for in-flight frames — both directions a monthly
    pipeline needs when a dimension gains a column mid-year."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "wh")
    v1 = spark.createDataFrame(
        [("1000", 2024, 1, 10.0)], "gl_code string, year int, month int, amount double"
    )
    v2 = spark.createDataFrame(
        [("1000", 2024, 2, 12.5, "Ops")],
        "gl_code string, year int, month int, amount double, grp string",
    )
    v1.write.parquet(path + "/p1")
    v2.write.parquet(path + "/p2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/p1", path + "/p2"
    )
    assert set(merged.columns) == {"gl_code", "year", "month", "amount", "grp"}
    jan = merged.where(F.col("month") == 1).collect()[0]
    assert jan.grp is None  # old files back-filled with NULL

    unioned = v1.unionByName(v2, allowMissingColumns=True)
    assert set(unioned.columns) == {"gl_code", "year", "month", "amount", "grp"}
    assert unioned.count() == 2
    assert unioned.where(F.col("grp").isNull()).count() == 1


def test_missing_path_detection_uses_live_spark_surface(spark, tmp_path):
    """is_missing_path_error must classify a REAL missing-path
    AnalysisException from this Spark version via its structured
    condition — and must still distinguish a genuine failure. If a
    Spark upgrade drops getCondition()/getErrorClass() or renames
    PATH_NOT_FOUND, this fails here instead of silently treating every
    read error as 'table doesn't exist yet' (or a first run as a
    crash)."""
    import pytest
    from pyspark.errors import AnalysisException

    from financial_data_warehouse_automation_spark.operators.sinks import is_missing_path_error

    with pytest.raises(AnalysisException) as ei:
        spark.read.parquet(str(tmp_path / "definitely_absent")).collect()
    exc = ei.value
    # the structured surface (not the message fallback) must answer:
    # at least one getter exists and returns a PATH_NOT_FOUND condition
    conds = []
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if fn is not None:
            try:
                conds.append(fn())
            except Exception:
                pass
    assert any(c and "PATH_NOT_FOUND" in c for c in conds), (
        f"structured error surface changed: {conds!r} — update "
        "is_missing_path_error before the message fallback rots"
    )
    assert is_missing_path_error(exc) is True
    # a non-path AnalysisException must NOT be swallowed
    with pytest.raises(AnalysisException) as ei2:
        spark.sql("SELECT no_such_column FROM range(1)").collect()
    assert is_missing_path_error(ei2.value) is False
