"""Structured Streaming wrappers (SURVEY.md §2.9).

The reference is batch-only; these are the EXT streaming twins of the
batch event-time queries in operators/events_time.py — same expressions,
``readStream`` source + watermark + ``writeStream`` sink.  Batch mode is
the oracle-checked surface; tests run these with ``Trigger.AvailableNow``
against the parquet fixtures and compare to the batch results.

At scale: file/Kafka source -> watermarked windowed state (RocksDB state
store) -> sink.  Watermarks bound state: 1-hour delay x per-window
cardinality, independent of stream length.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _events_raw_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Raw schema of events.parquet.  ``ts`` has shipped both as
    TIMESTAMP(NANOS) (readable only as int64 via nanosAsLong — see
    sources/tables.py) and as TIMESTAMP(MICROS) (TIMESTAMP_NTZ); a
    streaming source needs an explicit schema, so probe the file's
    batch-inferred one."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = (
        spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    )
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (one file; real
    deployments would watch a directory or a Kafka topic)."""
    schema = _events_raw_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if schema["ts"].dataType.simpleString() == "bigint":
        return raw.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1-day counts with a 1-hour watermark — streaming twin of
    the batch `events_tumbling_daily` query."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized_stream(events: DataFrame) -> DataFrame:
    """Session windows (30-min gap) per user — streaming twin of
    `events_session_windows`."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


_STATE_SCHEMA = "user_id LONG, n_events LONG, total_value DOUBLE"
_STATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY.md
    §2.9): running per-user event count + value total across batches —
    the general escape hatch when built-in windows can't express the
    state machine."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_STATE_OUTPUT_SCHEMA,
        stateStructType="n_events LONG, total_value DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_STATE_OUTPUT_SCHEMA_V2 = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def stateful_user_counts_v2(events: DataFrame) -> DataFrame:
    """Widened twin of stateful_user_counts — the state-schema-evolution
    scenario: the state tuple gains a ``max_value`` field.

    applyInPandasWithState state rows are positional UnsafeRows whose
    schema is pinned by the checkpoint: the state store's schema check
    REFUSES a widened stateStructType on an existing checkpoint (loud
    error at restart — pinned in tests/test_streaming_sinks.py) instead
    of mis-decoding old rows.  The supported migrations are (a) a fresh
    checkpoint + replay/backfill (what the test demonstrates), or (b)
    transformWithState (top_value_per_user_stream), whose Avro state
    encoding supports additive evolution first-class."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, round(total, 2), mx))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "max_value": [mx],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_STATE_OUTPUT_SCHEMA_V2,
        stateStructType="n_events LONG, total_value DOUBLE, max_value DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def deduped_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps only event_ids seen within the
    watermark horizon — state size is rate x horizon, not stream length
    (the streaming twin of dedup_exact)."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_windowed_to_parquet(
    events: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Windowed counts -> parquet file sink with a checkpoint — the
    production shape: exactly-once via checkpointed offsets + idempotent
    file commits; a restart with the same checkpoint resumes, not
    recomputes (exercised in tests)."""
    q = (
        windowed_counts_stream(events)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain(stream: DataFrame, step, checkpoint: str):
    """Run ``step(batch_df, batch_id)`` on every micro-batch of ``stream``
    present now (availableNow: drain, then stop) and return the finished
    query.  The checkpoint keeps batch ids stable across restarts; every
    step's replay handling is keyed on them."""
    q = (
        stream.writeStream.foreachBatch(step)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _monitor_swap_write(df: DataFrame, target: str, batch_id: int) -> None:
    """Commit ``df`` as ``target`` by write-aside-then-swap — the one
    rename commit of the streaming jobs' parquet state tables (the
    snapshot-backed jobs commit through sources/snapshots.py).

    The full write lands in ``<target>.tmp-<batch_id>-<uuid>`` while
    ``target`` (which ``df`` may still read from) stays intact: cache()
    is not a durability barrier, so a task retry or recompute mid-write
    must re-read valid data.  On a real object store this is the
    table-format commit (an Iceberg/Delta metadata swap); local rename
    is its twin.

    Not atomic across the two renames — a crash in between leaves
    ``target`` missing with the previous generation parked at
    ``<target>.old-<batch_id>``; :func:`_monitor_recover_target`
    restores exactly that case on the next read.  Without it the next
    batch would find no state and restart the accumulated history from
    its own rows.
    """
    import shutil

    # Sweep orphan .tmp-* siblings first: a crash during/after a prior
    # write but before the renames leaves them behind, and nothing else
    # ever touches them — repeated crash loops would leak state dirs
    # unboundedly (the snapshot layer's orphan-sweep discipline).
    parent, base = os.path.split(os.path.abspath(target.rstrip("/")))
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith(base + ".tmp-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)

    tmp = f"{target}.tmp-{batch_id}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{target}.old-{batch_id}"
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(tmp, target)
    shutil.rmtree(old, ignore_errors=True)


def _monitor_recover_target(target: str) -> None:
    """If a crash between _monitor_swap_write's renames left ``target``
    missing, restore the newest parked ``<target>.old-*`` backup."""
    if os.path.exists(target):
        return
    parent, base = os.path.split(os.path.abspath(target.rstrip("/")))
    if not os.path.isdir(parent):
        return
    prefix = base + ".old-"
    backups = [d for d in os.listdir(parent) if d.startswith(prefix)]
    if not backups:
        return

    def batch_key(name: str) -> int:
        try:
            return int(name[len(prefix):])
        except ValueError:
            return -1

    newest = max(backups, key=batch_key)
    os.rename(os.path.join(parent, newest), target)


def _monitor_prev_state(spark, state_dir: str):
    """The accumulated state table, or None only when none has EVER been
    committed.  Recovers a crash-parked backup first; any other read
    failure (corrupt parquet, permissions) PROPAGATES: read as "no
    state", it would replace the whole history with one batch's rows."""
    _monitor_recover_target(state_dir)
    if not os.path.exists(state_dir):
        return None
    return spark.read.parquet(state_dir)


def _fold_monitor(
    stream: DataFrame,
    checkpoint: str,
    state_dir: str,
    report_dir: str,
    partial,
    report,
) -> None:
    """The batch-exact monitors' one fold: each micro-batch's
    ``partial(batch_df)`` — its locally combined counts or sums — is
    keyed by batch id into the state table (rows
    ``(batch_id, *partial columns)``), and ``report(state, batch_id)``
    re-derives the report from the whole state, so it always equals a
    from-scratch batch run over everything seen so far (the parity
    tests).

    Replay contract: the folds are non-idempotent sums, so a replayed
    batch — a crash before the offset commit, or a wiped checkpoint,
    after which availableNow re-delivers the whole input as batch 0 —
    REPLACES its own earlier rows instead of counting them twice.  Sums
    are exact (integer counts or DECIMAL), so the batch/stream split
    cannot change a digit of the report, and reports are pure functions
    of the state (hash noise, key tie-breaks, no RNG), so a replay
    reproduces them byte for byte.  State and report commit through
    _monitor_swap_write; ``report`` swap-writes any table of its own
    (the top-k pool) with the same ``batch_id``.
    """

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = partial(batch_df)
        part = part.select(F.lit(batch_id).alias("batch_id"), *part.columns)
        prev = _monitor_prev_state(spark, state_dir)
        state = (
            part
            if prev is None
            else prev.where(F.col("batch_id") != batch_id).unionByName(part)
        )
        # Materialize the merged state off the directory being replaced.
        _monitor_swap_write(state, state_dir, batch_id)
        _monitor_swap_write(
            report(spark.read.parquet(state_dir), batch_id),
            report_dir,
            batch_id,
        )

    _drain(stream, step, checkpoint)


def run_foreach_batch_upsert(
    events: DataFrame, state_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch merge-upsert: keep the latest event per user in a
    parquet 'state table' — the merge-into emulation for plain parquet
    (real deployments would use a transactional table format).

    The state commits through the monitors' path: the prior state is
    read by _monitor_prev_state (a crash-parked generation is restored
    first, a state that exists but cannot be read fails the batch) and
    the new one is written aside and swapped in by _monitor_swap_write,
    never over the directory it is still reading from.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merged = batch_df.select("user_id", "event_id", "ts")
        prev = _monitor_prev_state(batch_df.sparkSession, state_dir)
        if prev is not None:
            merged = merged.unionByName(prev)
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        _monitor_swap_write(latest, state_dir, batch_id)

    _drain(events, upsert, checkpoint_dir)


def run_stream_to_memory(
    df: DataFrame, name: str | None = None, output_mode: str = "complete"
) -> tuple[str, object]:
    """Run a streaming DataFrame to a memory sink with AvailableNow (drain
    everything, then stop).  Returns (table_name, query)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name, q


def click_purchase_join_stream(
    clicks: DataFrame, purchases: DataFrame, horizon_minutes: int = 30
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a click by the
    same user within ``horizon_minutes`` (SURVEY.md §2.9).

    Both sides carry watermarks and the join condition bounds event time
    on BOTH ends — that is what lets Spark expire buffered state: a click
    older than (purchase watermark - horizon) can never match again and
    is evicted, so state is rate x horizon regardless of stream length.
    Same-stream-different-filter works because each side is its own
    readStream lineage.
    """
    c = (
        clicks.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    p = (
        purchases.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return c.join(
        p,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("secs_to_purchase"),
    )


def click_abandonment_stream(
    clicks: DataFrame, purchases: DataFrame, horizon_minutes: int = 30
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, with its
    attributed purchase if one arrived within ``horizon_minutes``, else
    NULLs — the abandonment feed (SURVEY.md §2.9).

    The outer side exercises the subtle half of stream-stream join
    state: a NULL-extended row may only be emitted once the purchase
    WATERMARK has passed the click's whole join window (until then a
    matching purchase could still arrive).  Spark holds the click in
    state and emits it from the no-data batch that follows the
    watermark advance; with an AvailableNow drain over a finite source,
    clicks younger than (final watermark - horizon) legitimately stay
    unflushed — the batch-parity test states exactly that bound.
    Join condition and watermarks mirror click_purchase_join_stream, so
    matched rows are identical to the inner join's.
    """
    c = (
        clicks.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    p = (
        purchases.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return c.join(
        p,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
        "left_outer",
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("secs_to_purchase"),
    )


def top_value_per_user_stream(events: DataFrame) -> DataFrame:
    """Spark 4 stateful API (transformWithStateInPandas): running maximum
    event value per user, kept in an explicit ValueState.

    This is the successor to applyInPandasWithState (see
    stateful_user_counts above): typed state handles (value/list/map
    state), timers, and TTL — the API a production RocksDB-backed
    stateful pipeline targets.  Batch parity is asserted in tests.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MaxValue(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._max = handle.getValueState(
                "max_value", "mx DOUBLE", ttlDurationMs=None
            )

        def handleInputRows(self, key, rows, timerValues):
            mx = self._max.get()[0] if self._max.exists() else None
            n = 0
            for pdf in rows:
                n += len(pdf)
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None or batch_max > mx else mx
            self._max.update((mx,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "max_value": [mx], "n_in_batch": [n]}
            )

        def close(self) -> None:
            pass

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("max_value", DoubleType()),
            StructField("n_in_batch", LongType()),
        ]
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        MaxValue(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


class PublishedTags:
    """Incremental view of a snapshot table's published tags.

    Each manifest is read at most once per instance lifetime: ``seen``
    answers from the in-memory set first and only folds in manifests
    NEWER than the high-water version on a miss, so the steady-state
    per-batch cost is one directory listing, never a full manifest
    rescan, while a tag published by another publisher instance after
    this one started is still found.
    """

    def __init__(self, table_dir: str) -> None:
        self._table_dir = table_dir
        self._tags: set[str] = set()
        self._scanned_to = -1  # highest manifest version folded in

    def _fold_new_history(self) -> None:
        # Legacy manifests recorded the tag in "op", current ones in
        # "tag".  Ascending order; stop (without advancing) at a
        # manifest mid-write by a concurrent publisher so its tag is
        # retried on the next fold rather than silently skipped.
        from mapreducer_spark.sources.snapshots import (
            _list_versions,
            _read_manifest,
        )

        for v in _list_versions(self._table_dir):
            if v <= self._scanned_to:
                continue
            try:
                h = _read_manifest(self._table_dir, v)
            except (OSError, ValueError):
                break
            self._tags.add(h.get("tag") or h.get("op"))
            self._scanned_to = v

    def seen(self, tag: str) -> bool:
        if tag in self._tags:
            return True
        self._fold_new_history()
        return tag in self._tags

    def record(self, tag: str, version: int) -> None:
        """Note a tag THIS instance just committed at ``version``."""
        self._tags.add(tag)
        self._scanned_to = max(self._scanned_to, version)


def run_snapshot_publisher(
    stream_df: DataFrame, table_dir: str, checkpoint: str
) -> object:
    """Stream -> snapshot-versioned table: each micro-batch publishes as
    one snapshot version (sources/snapshots.py) tagged ``batch-<id>``.

    foreachBatch is at-least-once — a crash between sink write and
    offset commit replays the batch — so the publisher is made
    idempotent on the BATCH ID: a replayed batch whose tag already
    appears in the snapshot history is skipped, giving exactly-once
    PUBLICATION on top of the snapshot layer's atomic metadata commit.
    (The same dance a Delta/Iceberg streaming sink does with its
    txnAppId/txnVersion dedup.)  Readers time-travel per micro-batch
    for free: version N == the Nth published batch.

    The published-tag set is maintained INCREMENTALLY: each manifest is
    read exactly once per publisher lifetime (a full rescan per batch
    would be O(versions^2) driver I/O over a long-running stream), and
    before publishing a tag it hasn't seen, the publisher folds in any
    manifests newer than its high-water version — so a batch published
    by ANOTHER publisher instance after this one started is still
    deduplicated.  Known limit: dedup only
    spans UNEXPIRED history — if snapshot_expire dropped a batch's
    manifest and the checkpoint was also wiped, a replay of that batch
    republishes (the tag evidence is gone; same contract as Delta's
    txnAppId dedup after VACUUMing the transaction log).
    """
    from mapreducer_spark.sources.snapshots import snapshot_write

    tags = PublishedTags(table_dir)

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"batch-{batch_id}"
        if tags.seen(tag):
            return  # already published (replay, or a concurrent instance)
        version = snapshot_write(batch_df, table_dir, op="overwrite", tag=tag)
        tags.record(tag, version)

    return _drain(stream_df, publish, checkpoint)


_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def run_quality_router(
    docs: DataFrame, keep_dir: str, drop_dir: str, checkpoint_dir: str
) -> None:
    """Streaming corpus-curation router: score each micro-batch with the
    Gopher repetition rules (operators/curation.py — the SAME stateless
    expressions as the batch query) and route rows to a keep/ or drop/
    parquet sink in one pass.

    Multi-sink exactly-once: foreachBatch writes each sink into a
    ``batch_id=N`` subdirectory with mode=overwrite, so a batch retry
    rewrites the same directories instead of appending duplicates —
    the checkpoint makes batch ids stable across restarts.  Readers see
    the union of batch dirs (plain ``spark.read.parquet(keep_dir)``).
    """
    from mapreducer_spark.operators.curation import repetition_metrics

    def route(batch_df: DataFrame, batch_id: int) -> None:
        scored = repetition_metrics(batch_df)
        # One materialization, two filtered writes: persist the scored
        # batch so the two sinks don't re-run the scoring expressions.
        scored.persist()
        try:
            scored.where(F.col("keep")).drop("keep").write.mode(
                "overwrite"
            ).parquet(f"{keep_dir}/batch_id={batch_id}")
            scored.where(~F.col("keep")).drop("keep").write.mode(
                "overwrite"
            ).parquet(f"{drop_dir}/batch_id={batch_id}")
        finally:
            scored.unpersist()

    _drain(docs, route, checkpoint_dir)


class BatchMetricsListener:
    """StreamingQueryListener that captures per-batch progress metrics —
    the observability hook a production streaming deployment wires into
    its metrics system (rows/sec, batch duration, watermark lag).

    Implemented against pyspark's StreamingQueryListener interface;
    events arrive on a listener-bus thread, so readers should poll
    (see tests/test_streaming_sinks.py).
    """

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        captured: list[dict] = []
        self.batches = captured

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                captured.append(
                    {
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "duration_ms": (p.durationMs or {}).get("triggerExecution"),
                        "sink": p.sink.description if p.sink else None,
                        # df.observe(...) metrics evaluated inside THIS
                        # batch's plan — the per-query custom counters a
                        # production pipeline alerts on (plans/metrics.py
                        # is the batch-side reader of the same API).
                        "observed": {
                            k: r.asDict() for k, r in (p.observedMetrics or {}).items()
                        },
                        # State-store footprint per stateful operator —
                        # rows held, rows touched this batch, bytes in
                        # the store.  THE capacity metric
                        # for long-running stateful jobs: unbounded
                        # numRowsTotal growth is how watermark
                        # misconfiguration shows up in production.
                        "state_operators": [
                            {
                                "operator": getattr(s, "operatorName", None),
                                "num_rows_total": s.numRowsTotal,
                                "num_rows_updated": s.numRowsUpdated,
                                "memory_used_bytes": s.memoryUsedBytes,
                            }
                            for s in (p.stateOperators or [])
                        ],
                    }
                )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _L()

    def attach(self, spark: SparkSession) -> "BatchMetricsListener":
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)

    def wait_for_batches(self, n: int = 1, timeout_s: float = 30.0) -> list[dict]:
        """Poll until >= n batch-progress events arrived (listener events
        are delivered asynchronously after awaitTermination returns)."""
        import time as _time

        deadline = _time.monotonic() + timeout_s
        while _time.monotonic() < deadline:
            if len(self.batches) >= n:
                return self.batches
            _time.sleep(0.2)
        return self.batches


def bloom_words_stream(docs: DataFrame, m_bits: int) -> DataFrame:
    """Streaming twin of the batch Bloom bitmap (operators/sketches.py::
    bloom_bitmap, same md5 position hashes): pack the benchmark split's
    word n-grams into the (word_idx, word) bitmap as documents ARRIVE.

    Two deliberate differences from batch, both inherent to streaming:
    - the geometry is FIXED up front (a stream can't size m_bits from a
      final gram count — production streaming blooms pre-size for the
      expected key volume);
    - no distinct() on grams: Bloom insertion is idempotent (bit_or
      absorbs duplicates), so with equal m_bits the drained bitmap
      equals the batch-over-distinct bitmap word for word — parity is
      exact, not approximate.

    State = the bitmap cells (m_bits/63 rows), constant-size regardless
    of stream volume; complete-mode output emits the current bitmap
    each micro-batch, ready to OR with any other day's bitmap."""
    from mapreducer_spark.operators.curation import _BENCH_SOURCE
    from mapreducer_spark.operators.sketches import bloom_bitmap, doc_gram_frame

    params = docs.sparkSession.range(1).select(
        F.lit(m_bits).cast("long").alias("m_bits")
    )
    grams = (
        doc_gram_frame(docs)
        .where(F.col("source") == _BENCH_SOURCE)
        .select("gram")
    )
    return bloom_bitmap(grams, params)


def cms_cells_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch count-min sketch grid
    (operators/sketches.py::cms_cells, same shared cell hash): a plain
    streaming groupBy-count, so the state store holds exactly the d x w
    counter grid — a CONSTANT-size state regardless of stream volume,
    which is the whole reason CMS is the streaming heavy-hitter
    structure.  Complete-mode output emits the current grid each batch;
    merging day-N grids is cell-wise addition (asserted mergeable in
    tests/test_llm_ops.py)."""
    from mapreducer_spark.operators.sketches import cms_cells

    return cms_cells(events.select("user_id"))


def run_substring_dedup_stream(
    docs_stream: DataFrame,
    index_dir: str,
    spans_dir: str,
    checkpoint: str,
) -> None:
    """Streaming incremental substring dedup — the daily-ingest shape of
    operators/dedup.py::incremental_substring_spans run continuously:
    each micro-batch of documents (1) re-shingles ONLY its own docs
    map-side, (2) probes the snapshot-versioned shingle index built by
    every PRIOR batch for cross-batch repeats, (3) emits the maximal
    repeated spans found in the new docs, and (4) appends its own
    shingle counts to the index as a new snapshot generation.

    Index design: an append-only (h, cnt) partial-count table — reading
    it is groupBy(h).sum(cnt) over the generations (mergeable partial
    states, the same contract as incremental_daily_agg), so the index
    UPDATE is a metadata-only snapshot append, never a rewrite.  Spans
    land under spans_dir/batch_id=N with mode=overwrite, so a replayed
    batch rewrites its own directory instead of duplicating
    (run_quality_router's idempotence pattern); the index append
    dedups replays via the snapshot tag.
    """
    from pyspark.sql import Window

    from mapreducer_spark.operators.dedup import (
        _spans_from_dup_occurrences,
        shingle_occurrences_df,
    )
    from mapreducer_spark.plans.inspect import checkpoint_inspected
    from mapreducer_spark.sources.snapshots import snapshot_read, snapshot_write

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sh_new = checkpoint_inspected(
            shingle_occurrences_df(batch_df.select("doc_id", "text")),
            "substring_dedup_stream.sh_new",
        )
        try:
            old_idx = (
                snapshot_read(spark, index_dir)
                .groupBy("h")
                .agg(F.sum("cnt").alias("old_cnt"))
            )
        except FileNotFoundError:
            old_idx = spark.createDataFrame([], "h long, old_cnt long")
        new_cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
        marked = sh_new.withColumn("new_cnt", new_cnt).join(
            old_idx, "h", "left"
        )
        dup_occ = marked.where(
            F.col("old_cnt").isNotNull() | (F.col("new_cnt") > 1)
        )
        spans = _spans_from_dup_occurrences(dup_occ)
        spans.write.mode("overwrite").parquet(
            os.path.join(spans_dir, f"batch_id={batch_id}")
        )
        batch_counts = sh_new.groupBy("h").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        snapshot_write(
            batch_counts, index_dir, op="append", tag=f"batch-{batch_id}"
        )

    _drain(docs_stream, step, checkpoint)


def run_kmv_sketch_stream(
    events_stream: DataFrame,
    sketch_dir: str,
    checkpoint: str,
) -> None:
    """Streaming maintenance of the per-event_type KMV distinct-user
    sketch (operators/sketches.py::kmv_set_operations's primitive): each
    micro-batch sketches its own users, MIN-MERGES with the sketch
    table's head, and commits the merged sketch as a new snapshot
    version.  Downstream consumers answer distinct-count and cross-set
    union/intersection questions from the tiny versioned sketch table
    without ever rescanning the event history — the streaming half of
    the "mergeable across days" claim.

    Replay safety needs NO tag bookkeeping, unlike the publisher jobs:
    kmv_merge is idempotent (re-merging an already-folded batch is a
    no-op), so a restarted/replayed batch converges to the identical
    sketch — proven by the restart parity test.  The commit is an
    overwrite (the sketch is a <= K*|types| row summary; versions also
    give a sketch-as-of-batch history for free), and the merge reads
    only the head — cost per batch is O(batch + K*|types|), independent
    of stream lifetime."""
    from mapreducer_spark.operators.sketches import kmv_merge, kmv_minima
    from mapreducer_spark.sources.snapshots import snapshot_read, snapshot_write

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sk = kmv_minima(
            batch_df.select(
                "event_type", F.col("user_id").cast("string").alias("item")
            ),
            ["event_type"],
            "item",
        )
        try:
            old = snapshot_read(spark, sketch_dir).select("event_type", "h")
        except FileNotFoundError:
            old = spark.createDataFrame([], "event_type string, h long")
        merged = kmv_merge(old.unionByName(batch_sk), ["event_type"])
        snapshot_write(
            merged, sketch_dir, op="overwrite", tag=f"batch-{batch_id}"
        )

    _drain(events_stream, step, checkpoint)


def run_changepoint_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
) -> None:
    """Streaming CUSUM change-point monitoring: each micro-batch folds
    its per-(event_type, day) DECIMAL value sums into the state, and the
    report is the SAME argmax-|CUSUM| report the batch operator
    (operators/events_time.py::event_value_changepoint) produces from
    the daily grain — the continuous-monitoring half of the change-point
    story.  Replay and commit: :func:`_fold_monitor`.
    """
    from mapreducer_spark.operators.events_time import cusum_report

    _fold_monitor(
        events_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: b.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v")),
        report=lambda st, _: cusum_report(
            st.groupBy("event_type", "day").agg(F.sum("v").alias("v"))
        ),
    )


def run_seasonal_anomaly_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
) -> None:
    """Streaming day-of-week seasonal anomaly monitoring: each
    micro-batch folds its per-(day, dow) event counts into the state,
    and the report is the SAME dow-baseline z-score report the batch
    operator (operators/events_time.py::events_seasonal_anomaly)
    produces via the shared seasonal_anomaly_report algebra.  Replay
    and commit: :func:`_fold_monitor`.
    """
    from mapreducer_spark.operators.events_time import (
        seasonal_anomaly_report,
    )

    _fold_monitor(
        events_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: b.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        ).agg(F.count(F.lit(1)).alias("n")),
        report=lambda st, _: seasonal_anomaly_report(
            st.groupBy("day", "dow").agg(F.sum("n").cast("long").alias("n"))
        ),
    )


def run_heavy_hitters_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
) -> None:
    """Streaming count-min heavy-hitters monitoring: each micro-batch
    folds its per-user event counts into the state, and the report is
    the SAME top-N report the batch operator
    (operators/sketches.py::cms_heavy_hitters) produces via the shared
    cms_report_from_counts algebra — the merged CMS grid is rebuilt
    from the folded counts by weighted increments, which equals
    per-event increments exactly because integer addition commutes
    (this is WHY CMS is the canonical mergeable sketch: daily shard
    grids add cell-wise; folding counts first is the same sum in a
    different association order).  Replay and commit:
    :func:`_fold_monitor`.
    """
    from mapreducer_spark.operators.sketches import cms_report_from_counts

    _fold_monitor(
        events_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        ),
        report=lambda st, _: cms_report_from_counts(
            st.groupBy("user_id").agg(
                F.sum("n").cast("long").alias("exact_cnt")
            )
        ),
    )


def run_stickiness_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
) -> None:
    """Streaming DAU/WAU stickiness maintenance, the retention/growth
    member of the monitor family: each micro-batch folds its distinct
    (day, user_id) activity pairs into the state table, then re-derives
    the SAME stickiness report the batch operator
    (operators/events_time.py::user_stickiness_dau_wau) produces via the
    shared stickiness_report algebra — always equal to a from-scratch
    batch run over everything seen so far (parity test).

    Not a :func:`_fold_monitor` ON PURPOSE: the state is a DISTINCT SET
    of (day, user_id) pairs, and set union is idempotent — a replayed
    batch re-adds pairs that are already present, changing nothing — so
    batch-keyed partials (needed where the fold is a non-idempotent SUM)
    would only bloat the state with per-batch multiplicity.  The state
    grain is active (day, user) pairs — the DAU integral, far smaller
    than raw events — and at 100 TB it shrinks further to the WAU window
    if old days are compacted out.  Both writes use the shared
    crash-safe swap.
    """
    from mapreducer_spark.operators.events_time import stickiness_report

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = batch_df.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "user_id",
        ).distinct()
        prev = _monitor_prev_state(spark, state_dir)
        state = (
            pairs
            if prev is None
            else prev.unionByName(pairs).distinct()
        )
        _monitor_swap_write(state, state_dir, batch_id)
        _monitor_swap_write(
            stickiness_report(spark.read.parquet(state_dir)),
            report_dir,
            batch_id,
        )

    _drain(events_stream, step, checkpoint)


def run_quantile_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
    width: float = 25.0,
) -> None:
    """Streaming quantile maintenance over event values via the
    mergeable histogram sketch: each micro-batch folds its per-bucket
    value counts into the state, and the report is the SAME
    width-bounded quantile report the batch algebra
    (operators/sketches.py::histogram_quantile_report) produces over
    all data seen so far — a histogram is THE canonical mergeable
    summary (batch counts add cell-wise), so batch/stream parity is
    exact by construction.  State grain is (batch, bucket) —
    domain-bounded, independent of stream length.  Replay and commit:
    :func:`_fold_monitor`.
    """
    from mapreducer_spark.operators.sketches import (
        histogram_quantile_report,
    )

    _fold_monitor(
        events_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: b.groupBy(
            F.floor(F.col("value") / width).cast("long").alias("b")
        ).agg(F.count(F.lit(1)).alias("n")),
        report=lambda st, _: histogram_quantile_report(
            st.groupBy("b").agg(F.sum("n").cast("long").alias("n")), width
        ),
    )


def run_dp_count_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
    eps_per_release: float = 1.0,
) -> None:
    """Streaming DP telemetry: per-event-type counts folded as
    batch-keyed partials and RELEASED each micro-batch through the
    discrete-Laplace count-release algebra (the exact code path of the
    batch mechanism — operators/profiling.py::dp_count_release), with
    sequential-composition budget accounting: release R salts its noise
    by R, so every release draws FRESH noise over the cumulative counts
    and the report carries eps_spent_total = R * eps_per_release — the
    monitor prices its own continual-observation cost instead of
    pretending re-releases are free.

    The release index is the distinct-batch count of the state, so a
    replayed batch reproduces the same index, the same salt and the
    byte-identical report: crash-replay can never double-spend the
    budget or re-roll the noise.  State grain is (batch, event_type);
    the report is one row per event type.  Replay and commit:
    :func:`_fold_monitor`.
    """
    from mapreducer_spark.operators.profiling import dp_count_release

    def report(st: DataFrame, _batch_id: int) -> DataFrame:
        n_releases = st.select("batch_id").distinct().count()
        totals = st.groupBy("event_type").agg(
            F.sum("n").cast("long").alias("true_count")
        )
        return dp_count_release(
            totals,
            "event_type",
            f"dp-monitor-v1|{n_releases}|",
            eps=eps_per_release,
        ).select(
            "event_type",
            "true_count",
            "dp_noise",
            "dp_count",
            F.lit(n_releases).cast("long").alias("releases_so_far"),
            F.lit(float(eps_per_release)).alias("eps_per_release"),
            F.lit(float(n_releases * eps_per_release)).alias(
                "eps_spent_total"
            ),
        )

    _fold_monitor(
        events_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: b.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ),
        report=report,
    )


def run_dp_histogram_monitor(
    events_stream: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
    eps_per_release: float = 1.0,
) -> None:
    """Streaming DP telemetry over a DISTRIBUTION: the clamped
    event-value histogram folded as batch-keyed per-bucket partials and
    RELEASED each micro-batch through the discrete-Laplace histogram
    algebra (the exact code path of the batch mechanism —
    operators/profiling.py::dp_histogram_release, full fixed grid,
    empty cells noised too), with sequential-composition budget
    accounting: release R salts its noise by R and the report carries
    eps_spent_total = R * eps_per_release.  Within one release the
    buckets are disjoint, so the per-release price is eps_per_release
    (parallel composition), not cells x eps.

    The release index is the distinct-batch count of the state, as in
    run_dp_count_monitor, so a replayed batch reproduces the same salt
    and the byte-identical report.  State grain is (batch, bucket) —
    grid-bounded; the report is one row per grid cell, CDF included.
    Replay and commit: :func:`_fold_monitor`.
    """
    from mapreducer_spark.operators.profiling import (
        _DPEV_BUCKETS,
        _DPEV_CLAMP,
        _DPEV_WIDTH,
        dp_histogram_release,
    )
    from pyspark.sql import Window

    def report(st: DataFrame, _batch_id: int) -> DataFrame:
        n_releases = st.select("batch_id").distinct().count()
        totals = st.groupBy("bucket").agg(
            F.sum("n").cast("long").alias("tn")
        )
        rel = dp_histogram_release(
            totals,
            _DPEV_BUCKETS,
            f"dp-hist-monitor-v1|{n_releases}|",
            eps=eps_per_release,
        )
        wc = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, 0
        )
        return rel.select(
            "bucket",
            (F.col("bucket") * _DPEV_WIDTH).cast("long").alias("lo_value"),
            "true_n",
            "dp_noise",
            "dp_n",
            F.sum("dp_n").over(wc).cast("long").alias("dp_cdf_n"),
            F.lit(n_releases).cast("long").alias("releases_so_far"),
            F.lit(float(eps_per_release)).alias("eps_per_release"),
            F.lit(float(n_releases * eps_per_release)).alias(
                "eps_spent_total"
            ),
        )

    _fold_monitor(
        events_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: b.groupBy(
            F.floor(
                F.least(F.col("value"), F.lit(float(_DPEV_CLAMP)))
                / _DPEV_WIDTH
            )
            .cast("long")
            .alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n")),
        report=report,
    )


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings fixture (vec_id,
    embedding) — the candidate-arrival stream of the incremental
    retrieval monitor."""
    schema = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def run_topk_retrieval_monitor(
    embeddings_stream: DataFrame,
    queries_df: DataFrame,
    state_dir: str,
    pool_dir: str,
    report_dir: str,
    checkpoint: str,
) -> None:
    """Streaming INCREMENTAL RETRIEVAL — the retrieval shelf's
    batch<->stream closure: as candidate vectors arrive in
    micro-batches, maintain a snapshot-versioned top-k pool per query
    and re-rank it through the SHARED greedy MMR algebra
    (operators/similarity.py::_mmr_rerank — the exact code path of
    similarity_topk_mmr), so once every vector has arrived the pool
    equals similarity_topk's batch output and the report equals
    similarity_topk_mmr's, row for row (the parity test pins both).

    - Partial: score ONLY the batch's candidates against the fixed
      broadcast query set (identical 6dp-rounded cosine + tie-break as
      the batch operator) and keep the per-batch per-query top-k —
      global top-k is a subset of the union of per-batch top-ks, so the
      merge is exact while the state stays at batches x queries x k
      rows (each with its candidate vector — the pairwise re-rank needs
      no side lookup).  At 100 TB the partial is the only stage that
      touches the batch, and it's one map-side window over batch x
      queries scored rows.
    - Report: the pool is swap-written per batch before the MMR re-rank
      reads it, so a reader always sees one complete version; ties
      break on vec_id, so replay reproduces both byte for byte.

    Replay and commit: :func:`_fold_monitor`.
    """
    from pyspark.sql import Window

    from mapreducer_spark.functions.vectors import cosine
    from mapreducer_spark.operators.similarity import _TOP_K, _mmr_rerank

    q_b = F.broadcast(queries_df.select(F.col("q_id"), F.col("qv")))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.crossJoin(q_b)
            .where(F.col("q_id") != F.col("vec_id"))
            .select(
                "q_id",
                "vec_id",
                F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias(
                    "sim"
                ),
                "embedding",
            )
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _TOP_K)
            .drop("rnk")
        )

    def report(st: DataFrame, batch_id: int) -> DataFrame:
        spark = st.sparkSession
        # A vec_id delivered under two batch ids (re-written or
        # compacted input files) would put a duplicate (q_id, vec_id)
        # row in the pool and skew the MMR re-rank: collapse to one row
        # per (q_id, vec_id), keeping max sim — for true re-deliveries
        # the sims are identical (deterministic scoring), so this is
        # exactly the arrived-once pool.
        pool = (
            st.groupBy("q_id", "vec_id")
            .agg(F.max("sim").alias("sim"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _TOP_K)
        )
        _monitor_swap_write(pool, pool_dir, batch_id)
        pool_df = spark.read.parquet(pool_dir)
        vectors = st.select("vec_id", "embedding").dropDuplicates(
            ["vec_id"]
        )
        return _mmr_rerank(
            spark,
            sf_dir="",  # unused: vectors supplied from state
            pool=pool_df.select(
                "q_id", "vec_id", F.col("sim").alias("rel")
            ),
            vectors=vectors,
        )

    _fold_monitor(
        embeddings_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=partial,
        report=report,
    )


def run_ivf_ingest_monitor(
    embeddings_stream: DataFrame,
    index_df: DataFrame,
    state_dir: str,
    report_dir: str,
    checkpoint: str,
) -> None:
    """Streaming INDEX MAINTENANCE — the stream twin of
    ann_ivf_delta_assign, closing the index-ingest shelf the way the
    retrieval monitor closed retrieval: vectors arriving in
    micro-batches are cluster-assigned against the FROZEN centroid
    index through the SAME per-row argmax the batch operator uses
    (operators/similarity.py::_ivf_assigned_live — one code path), and
    the report is the per-cluster inverted-list occupancy after every
    drain, equal by construction to a full batch re-assignment once all
    vectors have arrived (the parity test pins it against the frozen
    ann_ivf_assign artifact's own counts).

    Each drain's report also carries the REBALANCE readout
    (frac_of_index, occupancy vs the sqrt-n rule's target mean,
    rule_k/index_k, k-lags-rule, split/hot/ok action) through the
    SHARED ivf_rebalance_readout — the same decision code path as the
    batch ann_ivf_rebalance_plan, so the live index emits the verdicts
    the offline maintenance query would, continuously.

    State grain is one (batch_id, vec_id, cluster) row per ingested
    vector (exactly the inverted-lists table a production deployment
    maintains); the report is k rows.  At 100 TB each drain touches
    ONLY the batch (|batch| x k centroid cosines, map-side); the lists
    table grows by appends, never recomputes.  Replay and commit:
    :func:`_fold_monitor`."""
    from mapreducer_spark.operators.similarity import (
        _ivf_assigned_live,
        ivf_rebalance_readout,
    )

    # k is the (metadata-sized) centroid count — the decision readout's
    # index_k input, same literal the batch query derives from the
    # frozen index.
    index_k = index_df.count()

    def report(st: DataFrame, _batch_id: int) -> DataFrame:
        occ = (
            st.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.countDistinct("batch_id").cast("long").alias("n_batches"),
            )
            .select(
                F.col("cluster").cast("long").alias("cluster"),
                "n_vectors",
                "n_batches",
            )
        )
        return ivf_rebalance_readout(occ, index_k, n_col="n_vectors")

    _fold_monitor(
        embeddings_stream,
        checkpoint,
        state_dir,
        report_dir,
        partial=lambda b: _ivf_assigned_live(b, index_df).select(
            "vec_id", "cluster"
        ),
        report=report,
    )
