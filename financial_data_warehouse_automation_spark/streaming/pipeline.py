"""Streaming ingestion + event aggregation (SURVEY §2.9).

Two shapes:

1. **File-arrival warehouse loads** (the reference's trigger,
   Code.gs:34-68): ``readStream`` over a drop directory of statement
   line files; each micro-batch runs the *batch* parse operators and
   the keyed A2 upsert inside ``foreachBatch``. Statement parsing uses
   order-dependent windows (W1–W3), which streaming DataFrames cannot
   express — and doesn't need to: a statement file is a complete unit,
   so per-batch batch-semantics is the correct granularity. Files are
   processed exactly once (checkpointed source log); re-delivery is
   harmless because the upsert is idempotent — the two properties the
   reference's README claims (README.md:30-31), here by construction.

2. **Event-time windowed aggregation**: the streaming twin of
   ``events_tumbling_15min`` — identical expressions under
   ``withWatermark``, late rows beyond 30 minutes dropped.

Every table a ``foreachBatch`` sink here maintains is a snapshot table
(operators/snapshots.py), and every sink commits through
:func:`operators.snapshots.stream_commit`: a per-writer ledger skips
replayed batches, and one manifest compare-and-swap publishes a batch's
buckets all at once. The stateful sinks (warehouse upsert, MV, dedup
and KMV state) are :func:`snapshot_partitioned_state_commit_batch`
folds: a batch reads and rewrites only the buckets it touches — one
(year, month) period of the warehouse for a monthly load — and every
other bucket keeps its directory. Each of them commits under a fixed
writer id, so its table keeps one checkpoint for life: a fresh
checkpoint restarts at batch 0, and the ledger would skip those batch
ids as replays.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from financial_data_warehouse_automation_spark.ingest.excel import LINE_SCHEMA
from financial_data_warehouse_automation_spark.operators.ingest import parse_income_statement
from financial_data_warehouse_automation_spark.operators.warehouse import upsert_keep_last

WAREHOUSE_KEY = ("gl_code", "year", "month", "department", "category")


def read_statement_line_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """File source over a drop directory of newline-JSON statement line
    files (the parquet-ified equivalent of 'an xlsx landed in the
    folder'). ``maxFilesPerTrigger=1`` mirrors the reference's
    file-at-a-time chronological loop (S5); the source log guarantees
    each file is consumed exactly once."""
    return (
        spark.readStream.schema(LINE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(drop_dir)
    )


def _fold_into(table_dir: str, writer_id: str, partial, merge, bucket_of):
    """foreachBatch: fold ``partial(batch)`` into the snapshot table at
    ``table_dir`` with :func:`snapshot_partitioned_state_commit_batch`
    (``merge`` and ``bucket_of`` are its arguments) under the fixed
    ``writer_id`` (see the module docstring on checkpoints)."""
    sink = snapshot_partitioned_state_commit_batch(
        table_dir, merge, bucket_of, writer_id
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        os.makedirs(table_dir, exist_ok=True)
        sink(partial(batch), batch_id)

    return apply


def _upsert_batch(warehouse_path: str):
    """foreachBatch: the S12 keyed upsert of one micro-batch's parsed
    facts into the warehouse snapshot table, bucketed by period
    (``year*100+month``). A batch reads back and rewrites only the
    periods its facts touch; an untouched period keeps its directory
    in the new manifest. A committed bucket that cannot be read fails
    the batch before anything is published."""

    def merge(prev, facts):
        return upsert_keep_last(
            facts.limit(0) if prev is None else prev, facts,
            list(WAREHOUSE_KEY), [F.asc("amount")],
        )

    return _fold_into(
        warehouse_path, "warehouse", parse_income_statement, merge,
        lambda df: F.col("year") * 100 + F.col("month"),
    )


def run_statement_ingest(
    spark: SparkSession, drop_dir: str, warehouse_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """§2.9 end to end: stream files → parse per batch → keyed upsert.
    ``availableNow`` drains everything currently in the directory and
    stops — a scheduled incremental load; drop the trigger for a
    long-running tail."""
    stream = read_statement_line_stream(spark, drop_dir)
    return (
        stream.writeStream.foreachBatch(_upsert_batch(warehouse_path))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ingest"))
        .trigger(availableNow=True)
        .start()
    )


def event_window_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming tumbling-window counts with a 30-minute watermark —
    the same expressions as the batch events_tumbling_15min query, so
    batch backfill and streaming tail produce union-compatible output."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def enrich_events_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static dimension enrichment: each micro-batch of the
    event stream joins the (slowly-changing, re-read per batch) static
    customer dimension on the derived key user_id+1 = c_custkey. The
    static side is broadcast-hinted — a bounded dim at any stream
    length — so the stream side never shuffles; on a cluster this is
    the map-side hash join every CDC/enrichment topology uses. The
    left join keeps dim-less events with a NULL segment (same
    missing-flag discipline as the batch J1/J2 enrichment)."""
    dim = F.broadcast(
        customer.select(
            (F.col("c_custkey") - 1).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        events.join(dim, "user_id", "left")
        .select(
            "event_id", "user_id", "event_type", "ts", "value",
            F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
        )
    )


def dedup_events_stream(events: DataFrame, within: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on the event key:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the key's first-seen event time, so re-delivered
    events (at-least-once sources) collapse to one row while state stays
    bounded — the streaming twin of batch ``dropDuplicates(["event_id"])``.

    ``within`` is the dedup horizon: a duplicate arriving more than this
    far (in event time) after the original is no longer guaranteed
    dropped. Size it to the source's re-delivery window, not the stream's
    lifetime — that is what keeps state finite at 100 TB/day rates."""
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_attribution_stream(
    events: DataFrame, horizon_minutes: int = 60
) -> DataFrame:
    """Stream-stream interval self-join: attribute each purchase to every
    click by the same user within the preceding ``horizon_minutes``.

    Both sides carry watermarks and the join condition bounds
    ``purchase_ts`` to ``[click_ts, click_ts + horizon]``, so Spark can
    compute exactly how long a buffered click can still match and evict
    state past it — the canonical bounded-state stream-stream join. An
    unbounded-condition join would grow state forever; this one holds
    ~(horizon + watermark) of each side per user regardless of stream
    length. Inner-join matches are emitted as soon as both rows arrive
    (the watermark governs eviction, not emission)."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


SESSION_OUT_SCHEMA = (
    "user_id BIGINT, session_start BIGINT, session_end BIGINT, "
    "n_events BIGINT, closed BOOLEAN"
)
SESSION_STATE_SCHEMA = "session_start BIGINT, session_end BIGINT, n_events BIGINT"


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: the
    streaming twin of the batch ``events_sessionization_30min`` query.

    Per-user state holds the one open session (start/end/count in epoch
    micros). Each micro-batch merges its events into that state with the
    same gap rule as the batch lag+cumsum formulation, emits sessions
    closed by an observed gap (``closed=true``) plus a snapshot of the
    still-open session (``closed=false``) — update-mode semantics, so a
    live dashboard always sees the current open session. Because the
    incremental merge is exactly the batch recurrence spread over
    batches, closed sessions are bit-identical to the batch query's.

    Scale: state is one 24-byte tuple per active user (not per event);
    the shuffle is on user_id, same key as the batch window. A
    production tail would add ``withWatermark`` + EventTimeTimeout to
    evict idle users; with bounded replay (availableNow) the final
    open-session snapshots serve that role.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        new_ts: list[int] = []
        for pdf in pdf_iter:
            # ns-resolution pandas timestamps → epoch micros
            new_ts.extend(int(v) // 1000 for v in pdf["ts"].astype("int64"))
        new_ts.sort()

        cur = state.get if state.exists else None  # (start, end, n)
        out = []
        for t in new_ts:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                out.append((user_id, cur[0], cur[1], cur[2], True))
                cur = (t, t, 1)
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            out.append((user_id, cur[0], cur[1], cur[2], False))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_start", "session_end", "n_events", "closed"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def mv_merge_batch(mv_path: str):
    """foreachBatch: merge one micro-batch's partial aggregate into the
    stored daily-events MV — the streaming side of
    ``mv_incremental_refresh`` (count/sum monoids merge associatively).
    Rows are ``(event_type, day, n_events, cents)``, bucketed by month
    (``yyyy-MM``), so a batch rewrites only the months it touches,
    never the MV's history. Re-applying a committed batch id is a
    no-op (the store's ledger skips it), which closes the one hazard of
    a sum-merge: counting a retried batch twice."""

    def partial(batch):
        return batch.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        )

    def merge(prev, part):
        if prev is None:
            return part
        return prev.unionByName(part).groupBy("event_type", "day").agg(
            F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents")
        )

    return _fold_into(
        mv_path, "mv", partial, merge,
        lambda df: F.date_format("day", "yyyy-MM"),
    )


def run_event_mv_refresh(
    spark: SparkSession, events: DataFrame, mv_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Stream events into the daily MV: each micro-batch folds its
    partial aggregate into the stored table (availableNow = one
    scheduled incremental refresh; drop the trigger for a live tail)."""
    return (
        events.writeStream.foreachBatch(mv_merge_batch(mv_path))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "mv"))
        .trigger(availableNow=True)
        .start()
    )


def dedup_state_merge_batch(state_path: str, bucket_width: int = 1):
    """foreachBatch: fold one micro-batch of documents into the
    exact-dedup STATE table — the streaming side of ``doc_exact_dedup``
    (reference parity: the keep-first semantics of
    python_version/build_warehouse.py's keyed upsert, applied to the
    curation corpus). State rows are ``(dedup_key, kept_doc_id,
    n_copies)`` with ``dedup_key = md5(norm_text(text))``.

    The per-key state is the (min, count) MONOID — min(doc_id) and
    count are associative + commutative — so the terminal state is
    invariant under ANY micro-batch split of the corpus, including a
    later batch carrying a smaller doc_id for an already-seen key
    (an insert-only "first writer wins" table would get that wrong;
    the min-merge updates it). That split-invariance is what lets one
    DuckDB ``GROUP BY key`` oracle check every possible arrival order.
    Re-applying a committed batch id is a no-op (the store's ledger
    skips it); merging it again would double-count ``n_copies``.

    The bucket is the first ``bucket_width`` hex chars of the key
    (16**width buckets), and a batch rewrites only the buckets it
    touches. ``bucket_width`` IS the 100 TB knob: widening to 2-3 hex
    chars shrinks each bucket to 1/16th-1/256th of the state, so an
    incremental batch touching k keys rewrites ~k/(16**width) of the
    stored rows instead of ~k/16 — the touched FRACTION of state is
    what widening buys (the touched bucket COUNT can grow; each is
    proportionally smaller). Pinned by tests/test_streaming.py's
    width-2 test: same terminal state, strictly fewer pre-existing rows
    rewritten per delta batch."""
    from financial_data_warehouse_automation_spark.operators.text import norm_text

    def partial(batch):
        return (
            batch.select(
                F.md5(norm_text("text").cast("binary")).alias("dedup_key"),
                "doc_id",
            )
            .groupBy("dedup_key")
            .agg(
                F.min("doc_id").alias("kept_doc_id"),
                F.count(F.lit(1)).cast("long").alias("n_copies"),
            )
        )

    def merge(prev, part):
        if prev is None:
            return part
        return prev.unionByName(part).groupBy("dedup_key").agg(
            F.min("kept_doc_id").alias("kept_doc_id"),
            F.sum("n_copies").cast("long").alias("n_copies"),
        )

    return _fold_into(
        state_path, "dedup", partial, merge,
        lambda df: F.substring("dedup_key", 1, bucket_width),
    )


def run_doc_dedup_state(
    spark: SparkSession, docs: DataFrame, state_path: str,
    checkpoint_dir: str, bucket_width: int = 1,
) -> StreamingQuery:
    """Stream documents into the exact-dedup state table (availableNow
    = one scheduled maintenance pass; drop the trigger for a live
    tail). ``bucket_width`` widens the state bucketing — see
    :func:`dedup_state_merge_batch`."""
    return (
        docs.writeStream.foreachBatch(
            dedup_state_merge_batch(state_path, bucket_width)
        )
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "dedup_state")
        )
        .trigger(availableNow=True)
        .start()
    )


def _tws_available() -> bool:
    """transformWithStateInPandas talks to the JVM state server over
    protobuf; the runtime gate mirrors the openpyxl gate on the Excel
    path (real implementation, registered only where the dependency
    exists — this container has no protobuf and installs are out of
    scope; re-probed each round, most recently r15 2026-08-17:
    still absent)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_stats_tws(events: DataFrame):
    """Per-user running (n_events, cents, n_purchases) via
    ``transformWithStateInPandas`` — Spark 4's arbitrary-stateful API
    (StatefulProcessor + typed ValueState on the RocksDB store), the
    successor to this module's ``applyInPandasWithState`` sessionizer.
    State is ONE fixed-width tuple per user (bounded by |users|, not
    |events|); each micro-batch folds its rows into the tuple and
    emits the updated running totals, so the last emission per user
    equals the batch aggregate — which is what the oracle checks.
    Monetary rounding happens JVM-side BEFORE the processor (numpy
    rounds half-to-even, Spark/DuckDB round half-up; ints only cross
    the Arrow boundary). Requires protobuf (_tws_available)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class _UserStats(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState(
                "agg", "n BIGINT, cents BIGINT, np BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            n = cents = npur = 0
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
                npur += int(pdf["is_purchase"].sum())
            if self._state.exists():
                pn, pc, pp = self._state.get()
            else:
                pn = pc = pp = 0
            self._state.update((pn + n, pc + cents, pp + npur))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [pn + n],
                    "cents": [pc + cents],
                    "n_purchases": [pp + npur],
                }
            )

        def close(self):
            pass

    src = events.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("is_purchase"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStats(),
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, cents BIGINT, n_purchases BIGINT"
        ),
        outputMode="Update",
        timeMode="None",
    )


def kmv_state_merge_batch(state_path: str, k: int = 32):
    """foreachBatch: fold one micro-batch of events into the per-DAY
    KMV user-sketch state — the streaming producer for the sketch
    re-aggregation family (events_kmv_weekly_merge answers weekly
    cardinality by merging exactly the state this maintains; the
    streaming query reuses that oracle bit-for-bit).

    State rows are ``(h, day)``: the k smallest md5-prefix hashes of
    the distinct user_ids seen each day, bucketed by day
    (``yyyy-MM-dd``), so a batch rewrites k rows per touched day —
    state I/O independent of event volume. Bottom-k-by-hash is an
    idempotent SEMILATTICE, not just a monoid: min-k(min-k(A) ∪ B) ==
    min-k(A ∪ B) gives split-invariance under ANY micro-batch
    arrangement, and min-k(S ∪ batch) == S once a batch is folded, so
    even a re-delivery under a new batch id leaves the state as it
    was (the (min, count) dedup state has no such property)."""
    from pyspark.sql import Window

    from financial_data_warehouse_automation_spark.functions.scalars import md5_prefix_int

    def partial(batch):
        return batch.select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            md5_prefix_int(
                F.col("user_id").cast("string").cast("binary")
            ).alias("h"),
        ).distinct()

    def merge(prev, part):
        rows = part if prev is None else prev.unionByName(part)
        w = Window.partitionBy("day").orderBy("h")
        return (
            rows.distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("h", "day")
        )

    return _fold_into(state_path, "kmv", partial, merge, lambda df: F.col("day"))


def run_events_kmv_state(
    spark: SparkSession, events: DataFrame, state_path: str,
    checkpoint_dir: str, k: int = 32,
) -> StreamingQuery:
    """Stream events into the per-day KMV sketch state (availableNow =
    one scheduled maintenance pass; drop the trigger for a live
    tail)."""
    return (
        events.writeStream.foreachBatch(kmv_state_merge_batch(state_path, k))
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "kmv_state")
        )
        .trigger(availableNow=True)
        .start()
    )


def snapshot_commit_batch(table_dir: str, writer_id: str = "stream"):
    """foreachBatch: append each micro-batch to a snapshot table exactly
    once, however often the stream re-delivers it.

    The fold stages the batch as the immutable directory
    ``<writer>-batch-<id>`` and adds it as bucket ``<writer>-b<id>`` on
    top of the latest mapping. It reads no bucket, so a concurrent
    commit only makes it rebase, never re-fold. Ledger, replay check
    and commit loop are :func:`operators.snapshots.stream_commit`'s;
    several writers can append to one table, each under its own
    ``writer_id``. A crash between staging and commit leaves an
    unreferenced directory that the replay overwrites (and that
    ``expire_snapshots`` would reclaim)."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        stream_commit,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        def fold(version, manifest, suffix):
            d = os.path.join(
                table_dir, f"{writer_id}-batch-{batch_id}{suffix}"
            )
            batch.write.mode("overwrite").parquet(d)
            return (), lambda base: {**base, f"{writer_id}-b{batch_id}": d}

        stream_commit(table_dir, writer_id, batch_id, fold)

    return apply


def run_events_snapshot_commit(
    spark: SparkSession, events: DataFrame, table_dir: str,
    checkpoint_dir: str, writer_id: str = "stream",
) -> StreamingQuery:
    """Stream events into a versioned snapshot table, one manifest
    version per micro-batch (availableNow = bounded drain)."""
    os.makedirs(table_dir, exist_ok=True)
    return (
        events.writeStream.foreachBatch(
            snapshot_commit_batch(table_dir, writer_id)
        )
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "snap_commit")
        )
        .trigger(availableNow=True)
        .start()
    )


def snapshot_state_commit_batch(table_dir: str, merge, writer_id: str = "cdf"):
    """foreachBatch: maintain a derived state table whose single
    ``state`` bucket is replaced by ``merge(previous_state, batch)`` on
    every commit, so version N's state is a fold of the feed's first N
    batches (replicas, materialized views, indexes).

    ``merge(prev: DataFrame | None, batch: DataFrame) -> DataFrame``
    receives the committed state the fold read (``None`` before the
    first commit), through ``read_snapshot`` so its deletion vector
    and column mapping apply, and returns the full new state. The fold
    reads the whole manifest: any concurrent commit makes
    :func:`operators.snapshots.stream_commit` discard the staged state
    and merge again against the new one, so neither writer's commit is
    lost. Two writers folding one feed into one table still interleave
    their states in no fixed order; give separate folds separate
    tables. Replays return before ``merge`` runs.

    Replacing one bucket is the small-table layout;
    :func:`snapshot_partitioned_state_commit_batch` rewrites only the
    buckets a batch touches."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        stream_commit,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        def fold(version, manifest, suffix):
            prev = read_snapshot(
                batch.sparkSession, table_dir, version=version
            ) if manifest else None
            d = os.path.join(
                table_dir, f"{writer_id}-state-{batch_id}{suffix}"
            )
            merge(prev, batch).write.mode("overwrite").parquet(d)
            return None, lambda base: {"state": d}

        stream_commit(table_dir, writer_id, batch_id, fold)

    return apply


def snapshot_partitioned_state_commit_batch(
    table_dir: str, merge, bucket_of, writer_id: str = "cdf",
):
    """foreachBatch: the bucketed form of
    :func:`snapshot_state_commit_batch`. Each micro-batch rewrites only
    the buckets its keys touch; untouched buckets keep their directory
    strings in the new manifest (copy-on-write sharing, the per-bucket
    MERGE layout of queries/warehouse.warehouse_upsert_snapshot driven
    by a stream).

    ``bucket_of(df) -> Column`` gives a row's bucket from its key
    columns (an int, or a string such as a month; its string form is
    the bucket id). It must be non-null and stable: a key's bucket is
    its home for life.
    ``merge(prev: DataFrame | None, batch: DataFrame) -> DataFrame``
    receives the previous state of the touched buckets only (``None``
    when none exists yet) and returns those buckets' full new rows; a
    row outside the touched buckets raises ``ValueError``. A touched
    bucket whose new content is empty is removed from the manifest,
    so its old directory cannot resurrect deleted rows.

    The fold's read set is its touched buckets: a concurrent commit to
    one of them re-runs the merge against the new state (see
    :func:`operators.snapshots.stream_commit`), while commits to other
    buckets only rebase it. Cost follows the churn, not the table: one
    distinct over the batch to find the touched buckets, one merge of
    the batch against their rows, one manifest create."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_snapshot,
        stream_commit,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        touched = None

        def fold(version, manifest, suffix):
            nonlocal touched
            if touched is None:  # found once, kept across re-folds
                touched = {
                    str(r.pb) for r in
                    batch.select(bucket_of(batch).alias("pb")).distinct()
                    .collect()
                }
            if not touched:
                return None  # empty batch: nothing to fold or commit
            held = sorted(b for b in touched if b in manifest)
            prev = read_snapshot(
                batch.sparkSession, table_dir, version=version, buckets=held
            ) if held else None
            root = os.path.join(table_dir, f"{writer_id}-g{batch_id}{suffix}")
            new = merge(prev, batch)
            new.withColumn("pb", bucket_of(new)) \
                .write.mode("overwrite").partitionBy("pb").parquet(root)
            staged = {
                n.split("=", 1)[1]: os.path.join(root, n)
                for n in os.listdir(root) if n.startswith("pb=")
            }
            unexpected = set(staged) - touched
            if unexpected:
                raise ValueError(
                    f"merge emitted rows outside the touched buckets: "
                    f"{sorted(unexpected)} — bucket_of must be key-stable"
                )
            return sorted(touched), lambda base: {
                **{b: d for b, d in base.items() if b not in touched},
                **staged,
            }

        stream_commit(table_dir, writer_id, batch_id, fold)

    return apply
