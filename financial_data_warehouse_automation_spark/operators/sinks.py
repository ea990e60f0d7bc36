"""Sink / DDL operators (SURVEY §2.1 S9–S13).

The reference's workbook rewrites map onto independent per-table writes:

* ``overwrite_table``  — S10/S11: clear-and-write one table; sibling
  tables are separate paths, so 'preserve other sheets' is free.
* ``read_table_or_empty`` — S9: read own output, tolerating first-run
  absence (build_warehouse.py:147-156 returns an empty frame).
* ``ensure_table`` — S13: CREATE-IF-NOT-EXISTS as an empty typed write.

At scale, pass ``partition_by=("year", "month")`` so monthly loads
rewrite only their periods (with
``spark.sql.sources.partitionOverwriteMode=dynamic``) — the Parquet
equivalent of the reference's in-place keyed upsert.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def is_missing_path_error(exc: AnalysisException) -> bool:
    """True iff ``exc`` is the missing-input-path error (and nothing
    else). Prefers ``getCondition()`` (Spark ≥ 4), falls back to the
    deprecated ``getErrorClass()`` and finally to the legacy message
    substring, so a Spark upgrade that renames one surface can't make
    a legitimate first run raise — or, worse, a real failure pass.
    Every read-or-initialize site in the repo narrows on this: a
    corrupt footer / FS hiccup / permission error must FAIL, never be
    mistaken for 'table doesn't exist yet'."""
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if fn is None:
            continue
        try:
            cond = fn()
        except Exception:
            cond = None
        if cond:
            return "PATH_NOT_FOUND" in cond
    return "Path does not exist" in str(exc)


def overwrite_table(
    df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """S10/S11: atomic clear-and-write of one table path."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


def read_table_or_empty(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """S9: re-scan own output; absent table ⇒ empty frame with the
    declared schema (never a crash on first run). Any OTHER read
    failure raises: an empty frame standing in for a corrupt/unreadable
    table would flow into the rebuild and overwrite it."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        return spark.createDataFrame([], schema)


def ensure_table(spark: SparkSession, path: str, schema: StructType) -> None:
    """S13: create the table with its schema if it doesn't exist;
    leave existing data untouched. An unreadable EXISTING table raises
    instead of being silently 'ensured'."""
    try:
        spark.read.parquet(path).limit(0).collect()
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        spark.createDataFrame([], schema).write.mode("ignore").parquet(path)
