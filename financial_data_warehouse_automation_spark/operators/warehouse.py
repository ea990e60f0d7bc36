"""Warehouse maintenance operators (SURVEY.md §2.4 A1–A3, §2.6 W4).

The reference's idempotency core re-expressed as pure DataFrame
transforms:

* ``upsert_keep_last`` — A2: union existing ∪ updates, keep the
  newest row per natural key (build_warehouse.py:159-169 ``keep="last"``;
  Code.gs:264-274 map overwrite), via the W4 ``row_number`` formulation
  so plain Parquet (and the DuckDB oracle) can express it. On a Delta
  lake this becomes ``MERGE INTO``; the window form is the engine's
  format-agnostic fallback.
* ``dedupe_keep_first`` — A1: dimension dedupe, deterministic
  keep-first per key (build_warehouse.py:82; §2.11 D5 picks keep-first
  over the GS keep-last because it is order-stable and surfaces dirty
  dims).
* ``qa_ledger_merge`` — A3: the stateful Open/Resolved missing-mapping
  ledger (Code.gs:283-317) as a full-outer-join + CASE cascade.

Scale notes (100 TB): each operator is one shuffle on its key.
``upsert_keep_last`` shuffles existing ∪ updates on the natural key —
with the warehouse bucketed by (year, month) period, the streaming
upsert (streaming/pipeline._upsert_batch) reads and rewrites only the
periods present in ``updates`` (the monthly-load case touches one
bucket). The 5-column reference key is high-cardinality, so
skew-salting is unnecessary; AQE's skew split covers pathological
keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PRIORITY = "_src_priority"
_RN = "_rn"


def upsert_keep_last(
    existing: DataFrame,
    updates: DataFrame,
    key: Sequence[str],
    order_by: Sequence[Column | str] = (),
) -> DataFrame:
    """A2/W4: keyed last-write-wins upsert.

    ``updates`` rows beat ``existing`` rows on the same key; within a
    side, ``order_by`` (descending significance, already-built Columns
    or column names ordered DESC-first by the caller) breaks ties.
    Idempotent: applying the same ``updates`` twice is a fixed point —
    the property the Python reference claims (README.md:31) but
    violates on re-run (SURVEY §2.11 D4).
    """
    tagged = existing.withColumn(_PRIORITY, F.lit(0)).unionByName(
        updates.withColumn(_PRIORITY, F.lit(1))
    )
    order = [F.desc(_PRIORITY), *order_by]
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        tagged.withColumn(_RN, F.row_number().over(w))
        .where(F.col(_RN) == 1)
        .drop(_RN, _PRIORITY)
    )


def dedupe_keep_first(
    df: DataFrame,
    key: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """A1: deterministic keep-first dedupe (first under ``order_by``).

    Unlike ``dropDuplicates`` (arbitrary survivor under shuffle), the
    explicit ordering makes the survivor reproducible across runs and
    cluster sizes — required for oracle checks and for D5's
    "deterministic, surfaces dirty dims" decision.
    """
    w = Window.partitionBy(*key).orderBy(*order_by)
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .where(F.col(_RN) == 1)
        .drop(_RN)
    )


def qa_ledger_merge(
    ledger: DataFrame,
    current_misses: DataFrame,
    key: Sequence[str],
    seen_col: Column | None = None,
    resolve_backfill: DataFrame | None = None,
) -> DataFrame:
    """A3: stateful QA ledger transition (Code.gs:283-317).

    ``ledger`` carries ``status`` ∈ {Open, Resolved} and ``last_seen``;
    ``current_misses`` is this run's key set (one row per key, extra
    payload columns allowed — ledger payload wins for matched rows).

    Transitions:
      in both        → Open, last_seen := now   (Code.gs:295-299)
      ledger only    → Resolved, last_seen kept (Code.gs:301-310)
      misses only    → Open, last_seen := now   (new issue)

    ``resolve_backfill``: the *current* dimension (key + payload
    columns, e.g. description/group). When given, it is left-joined on
    the key so rows whose code now exists in the reference — exactly
    the Resolved ones — come back enriched, matching the GS back-fill
    at Code.gs:301-310.

    ``seen_col`` defaults to ``current_timestamp()``; pass a literal for
    reproducible tests/oracles.
    """
    now = seen_col if seen_col is not None else F.current_timestamp()
    lkey = [f"_l_{k}" for k in key]
    led = ledger.select(
        *[F.col(k).alias(a) for k, a in zip(key, lkey)],
        F.col("status").alias("_l_status"),
        F.col("last_seen").alias("_l_last_seen"),
    )
    cond = None
    for k, a in zip(key, lkey):
        c = current_misses[k] == F.col(a)
        cond = c if cond is None else (cond & c)
    joined = current_misses.join(led, cond, "full_outer")
    in_miss = current_misses[key[0]].isNotNull()
    merged = joined.select(
        *[
            F.coalesce(current_misses[k], F.col(a)).alias(k)
            for k, a in zip(key, lkey)
        ],
        F.when(in_miss, F.lit("Open")).otherwise(F.lit("Resolved")).alias("status"),
        F.when(in_miss, now).otherwise(F.col("_l_last_seen")).alias("last_seen"),
    )
    if resolve_backfill is not None:
        merged = merged.join(F.broadcast(resolve_backfill), list(key), "left")
    return merged
