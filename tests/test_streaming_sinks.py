"""Streaming production shapes: checkpointed file sink + restart,
foreachBatch merge-upsert, watermarked dedup."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from mapreducer_spark.operators.events_time import events_tumbling_daily
from mapreducer_spark.operators.sessions import latest_event_per_user
from mapreducer_spark.streaming import (
    deduped_stream,
    read_events_stream,
    run_foreach_batch_upsert,
    run_stream_to_memory,
    run_windowed_to_parquet,
)


def test_parquet_sink_with_checkpoint_and_restart(spark, sf_dir, tmp_path):
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "ckpt")
    run_windowed_to_parquet(read_events_stream(spark, sf_dir), out, ckpt)
    got = {
        (r.w_start, r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    # Append-mode file sinks emit only windows the watermark has CLOSED:
    # the final day's window never finalizes when the stream ends. The
    # output must exactly equal the batch result restricted to closed
    # windows.
    import datetime as dt

    from mapreducer_spark.sources import load_table

    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=1)
    want = {
        (r.w_start, r.event_type): r.n_events
        for r in events_tumbling_daily(spark, sf_dir)
        .select("w_start", "event_type", "n_events")
        .collect()
        if dt.datetime.strptime(r.w_start, "%Y-%m-%d %H:%M:%S")
        + dt.timedelta(days=1)
        <= horizon
    }
    assert got == want
    # Restart with the same checkpoint: no new input -> no new output,
    # no duplicate recomputation.
    run_windowed_to_parquet(read_events_stream(spark, sf_dir), out, ckpt)
    again = {
        (r.w_start, r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert again == got
    assert os.path.isdir(ckpt) and os.listdir(ckpt)


def test_foreach_batch_upsert_matches_batch(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt_upsert")
    run_foreach_batch_upsert(read_events_stream(spark, sf_dir), state, ckpt)
    got = {
        r.user_id: r.event_id for r in spark.read.parquet(state).collect()
    }
    want = {
        r.user_id: r.event_id
        for r in latest_event_per_user(spark, sf_dir).collect()
    }
    assert got == want


def test_foreach_batch_upsert_recovers_state_and_never_resets(
    spark, sf_dir, tmp_path
):
    """The upsert commits through the monitors' swap: a state parked at
    ``<state>.old-N`` by a crash between the two renames is restored and
    its rows survive the next upsert; an orphan ``.tmp-*`` sibling is
    swept; a corrupt state directory fails the stream instead of being
    overwritten with the batch's rows."""
    import datetime as dt

    import pytest
    from pyspark.errors import StreamingQueryException

    state = str(tmp_path / "state")
    # A history row no fixture event supersedes (user -1).
    spark.createDataFrame(
        [(-1, -1, dt.datetime(2001, 1, 1))],
        "user_id long, event_id long, ts timestamp",
    ).write.parquet(state + ".old-7")
    orphan = state + ".tmp-99-deadbeef"
    os.makedirs(orphan)
    run_foreach_batch_upsert(
        read_events_stream(spark, sf_dir), state, str(tmp_path / "ck1")
    )
    got = spark.read.parquet(state)
    n_users = latest_event_per_user(spark, sf_dir).count()
    assert got.where("user_id = -1").count() == 1, "parked history lost"
    assert got.count() == n_users + 1
    assert not os.path.exists(state + ".old-7")
    assert not os.path.exists(orphan), "orphan .tmp dir not swept"

    bad = str(tmp_path / "bad_state")
    os.makedirs(bad)
    junk = os.path.join(bad, "part-00000.parquet")
    with open(junk, "w") as f:
        f.write("this is not parquet")
    with pytest.raises(StreamingQueryException):
        run_foreach_batch_upsert(
            read_events_stream(spark, sf_dir), bad, str(tmp_path / "ck2")
        )
    assert os.listdir(bad) == ["part-00000.parquet"]


def test_streaming_state_commits_through_one_path():
    """streaming/jobs.py has one drain and one state swap: foreachBatch
    is wired only in _drain, and os.rename runs only in the swap and
    its crash recovery, so no job can grow a commit without the
    recovery, the no-silent-reset read and the orphan sweep."""
    import ast
    from pathlib import Path

    from mapreducer_spark.streaming import jobs

    tree = ast.parse(Path(jobs.__file__).read_text())

    def callers(attr: str) -> list[str]:
        return sorted(
            {
                getattr(top, "name", "<module>")
                for top in tree.body
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
            }
        )

    assert callers("foreachBatch") == ["_drain"]
    assert callers("rename") == [
        "_monitor_recover_target",
        "_monitor_swap_write",
    ]


def test_watermarked_dedup_stream(spark, sf_dir):
    name, _ = run_stream_to_memory(
        deduped_stream(read_events_stream(spark, sf_dir)), output_mode="append"
    )
    n = spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c
    distinct_ids = spark.sql(
        f"SELECT count(DISTINCT event_id) c FROM {name}"
    ).collect()[0].c
    from mapreducer_spark.sources import load_table

    total = load_table(spark, sf_dir, "events").count()
    assert n == distinct_ids == total  # fixture ids are unique already


def test_quality_router_matches_batch(spark, sf_dir, tmp_path):
    """Streamed keep/drop routing must partition the corpus exactly as
    the batch gopher_repetition_rules query."""
    from mapreducer_spark.operators.curation import gopher_repetition_rules
    from mapreducer_spark.streaming import (
        read_documents_stream,
        run_quality_router,
    )

    keep_dir = str(tmp_path / "keep")
    drop_dir = str(tmp_path / "drop")
    run_quality_router(
        read_documents_stream(spark, sf_dir),
        keep_dir,
        drop_dir,
        str(tmp_path / "ckpt"),
    )
    kept = spark.read.parquet(keep_dir)
    dropped = spark.read.parquet(drop_dir)
    batch = gopher_repetition_rules(spark, sf_dir)
    want_keep = {r.doc_id for r in batch.where("keep").collect()}
    want_drop = {r.doc_id for r in batch.where("NOT keep").collect()}
    assert {r.doc_id for r in kept.collect()} == want_keep
    assert {r.doc_id for r in dropped.collect()} == want_drop
    # Routed rows carry the scores (schema contract minus the flag).
    assert set(kept.columns) >= {
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "top_bigram_frac",
    }


def test_quality_router_restart_is_incremental(spark, sf_dir, tmp_path):
    """Restarting the router with the same checkpoint must process ONLY
    newly arrived files: batch ids advance, earlier batch_id dirs are
    not rewritten, and no doc is routed twice — the exactly-once
    contract the batch_id=N/overwrite layout exists to provide."""
    import glob
    import shutil

    from mapreducer_spark.sources import load_table
    from mapreducer_spark.streaming.jobs import (
        _DOCS_SCHEMA,
        run_quality_router,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "src"
    src.mkdir()

    def stage(df, name):
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], src / name)

    stage(docs.where("doc_id % 2 = 0"), "p1.parquet")
    keep_dir, drop_dir = str(tmp_path / "keep"), str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(str(src))
    run_quality_router(stream, keep_dir, drop_dir, ckpt)
    first_keep = {r.doc_id for r in spark.read.parquet(keep_dir).collect()}
    first_dirs = set(glob.glob(f"{keep_dir}/batch_id=*"))

    # Second generation arrives; same checkpoint -> incremental batch.
    stage(docs.where("doc_id % 2 = 1"), "p2.parquet")
    stream2 = spark.readStream.schema(_DOCS_SCHEMA).parquet(str(src))
    run_quality_router(stream2, keep_dir, drop_dir, ckpt)

    kept = [r.doc_id for r in spark.read.parquet(keep_dir).collect()]
    dropped = [r.doc_id for r in spark.read.parquet(drop_dir).collect()]
    # No doc routed twice across restarts ...
    assert len(kept) == len(set(kept))
    assert len(dropped) == len(set(dropped))
    # ... first-run output still present, new batch dir added ...
    assert first_keep <= set(kept)
    assert first_dirs < set(glob.glob(f"{keep_dir}/batch_id=*"))
    # ... and the union equals the batch-mode routing of the full corpus.
    from mapreducer_spark.operators.curation import gopher_repetition_rules

    batch = gopher_repetition_rules(spark, sf_dir)
    assert set(kept) == {r.doc_id for r in batch.where("keep").collect()}
    assert set(dropped) == {
        r.doc_id for r in batch.where("NOT keep").collect()
    }


def test_streaming_listener_captures_batch_metrics(spark, sf_dir):
    """Per-batch observability: the listener must see every processed
    batch with its input row count — the hook a production deployment
    exports to its metrics system."""
    from mapreducer_spark.sources import load_table
    from mapreducer_spark.streaming.jobs import BatchMetricsListener

    listener = BatchMetricsListener().attach(spark)
    try:
        name, _ = run_stream_to_memory(
            deduped_stream(read_events_stream(spark, sf_dir)),
            output_mode="append",
        )
        batches = listener.wait_for_batches(1)
        assert batches, "no progress events delivered"
        total_in = sum(b["num_input_rows"] for b in batches)
        assert total_in == load_table(spark, sf_dir, "events").count()
        assert all(
            b["duration_ms"] is None or b["duration_ms"] >= 0 for b in batches
        )
    finally:
        listener.detach(spark)


def test_streaming_listener_reconciles_state_store_rows(spark, sf_dir):
    """State-store observability (VERDICT r4 #7): for a complete-mode
    windowed aggregation the store holds exactly one row per open
    group, so the listener's numRowsTotal must reconcile with the
    batch-side distinct (day, event_type) count — and the store must
    report a positive memory footprint."""
    from pyspark.sql import functions as F

    from mapreducer_spark.sources import load_table
    from mapreducer_spark.streaming.jobs import (
        BatchMetricsListener,
        read_events_stream,
        run_stream_to_memory,
        windowed_counts_stream,
    )

    listener = BatchMetricsListener().attach(spark)
    try:
        run_stream_to_memory(
            windowed_counts_stream(read_events_stream(spark, sf_dir)),
            output_mode="complete",
        )
        batches = listener.wait_for_batches(1)
        stateful = [b for b in batches if b["state_operators"]]
        assert stateful, "no state-operator metrics captured"
        last = stateful[-1]["state_operators"][0]
        expected_groups = (
            load_table(spark, sf_dir, "events")
            .select(F.window("ts", "1 day"), "event_type")
            .distinct()
            .count()
        )
        assert last["num_rows_total"] == expected_groups, (last, expected_groups)
        assert last["memory_used_bytes"] > 0
        # Every group was created/updated during the single drain pass.
        assert sum(
            s["state_operators"][0]["num_rows_updated"] for s in stateful
        ) >= expected_groups
    finally:
        listener.detach(spark)


def test_stateful_restart_and_state_schema_evolution(spark, tmp_path):
    """State-store lifecycle contract for applyInPandasWithState, across
    three restarts on one input directory:

    1. state SURVIVES a plain restart (same checkpoint, new input file
       -> cumulative per-user counts, not per-batch);
    2. restarting with a WIDENED state schema on the same checkpoint is
       REFUSED loudly (positional state rows + pinned checkpoint schema
       -> the store's schema check must fail, never mis-decode);
    3. the supported migration — widened operator on a FRESH checkpoint,
       replaying the full input — produces the correct evolved state.
    """
    import pytest

    from mapreducer_spark.streaming.jobs import (
        stateful_user_counts,
        stateful_user_counts_v2,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.parquet(f"{tmp_path}/{name}")
        import glob
        import shutil

        (part,) = glob.glob(f"{tmp_path}/{name}/part-*.parquet")
        shutil.copy(part, os.path.join(in_dir, f"{name}.parquet"))

    def run(op, checkpoint):
        # foreachBatch parquet sink: unlike the memory sink it supports
        # checkpoint recovery, which is the point of this test.
        stream = spark.readStream.schema("user_id long, value double").parquet(
            in_dir
        )
        out = str(tmp_path / f"out_{uuid.uuid4().hex[:8]}")

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            op(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.user_id: r for r in spark.read.parquet(out).collect()}

    # Phase 1: two users, one batch.
    write_batch("b1", [(1, 10.0), (1, 20.0), (2, 5.0)])
    got1 = run(stateful_user_counts, ckpt)
    assert got1[1].n_events == 2 and got1[1].total_value == 30.0
    assert got1[2].n_events == 1

    # Phase 2: plain restart on the same checkpoint with a new input
    # file — counts must be CUMULATIVE (state restored), and only the
    # touched users re-emit in update mode.
    write_batch("b2", [(1, 40.0), (3, 7.0)])
    got2 = run(stateful_user_counts, ckpt)
    assert got2[1].n_events == 3 and got2[1].total_value == 70.0
    assert got2[3].n_events == 1
    assert 2 not in got2  # untouched user does not re-emit

    # Phase 3: widened state schema on the SAME checkpoint must fail
    # loudly, not silently mis-read the 2-field state rows.
    with pytest.raises(Exception) as exc_info:
        run(stateful_user_counts_v2, ckpt)
    msg = str(exc_info.value).lower()
    assert "state" in msg or "schema" in msg, msg

    # Phase 4: the supported migration — fresh checkpoint, full replay
    # through the widened operator.
    ckpt2 = str(tmp_path / "ckpt2")
    got4 = run(stateful_user_counts_v2, ckpt2)
    assert got4[1].n_events == 3 and got4[1].total_value == 70.0
    assert got4[1].max_value == 40.0
    assert got4[2].max_value == 5.0
    assert got4[3].n_events == 1 and got4[3].max_value == 7.0


def test_snapshot_publisher_exactly_once(spark, tmp_path):
    """Streaming -> snapshot table: one version per micro-batch, no new
    versions without new input, and a FULL REPLAY (checkpoint deleted)
    publishes nothing because the batch tags are already in history —
    exactly-once publication over an at-least-once foreachBatch."""
    import shutil

    from mapreducer_spark.sources.snapshots import (
        snapshot_history,
        snapshot_read,
    )
    from mapreducer_spark.streaming.jobs import run_snapshot_publisher

    in_dir = str(tmp_path / "in")
    tdir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def add_input(name, rows):
        spark.createDataFrame(rows, "id long, v double").coalesce(
            1
        ).write.parquet(f"{tmp_path}/{name}")
        import glob

        (part,) = glob.glob(f"{tmp_path}/{name}/part-*.parquet")
        shutil.copy(part, os.path.join(in_dir, f"{name}.parquet"))

    def run():
        stream = spark.readStream.schema("id long, v double").parquet(in_dir)
        run_snapshot_publisher(stream, tdir, ckpt)

    add_input("b1", [(1, 1.0), (2, 2.0)])
    run()
    hist = snapshot_history(tdir)
    assert [h["tag"] for h in hist] == ["batch-0"]

    run()  # no new input -> no new version
    assert len(snapshot_history(tdir)) == 1

    add_input("b2", [(3, 3.0)])
    run()
    hist = snapshot_history(tdir)
    assert [h["tag"] for h in hist] == ["batch-0", "batch-1"]
    latest = {(r.id, r.v) for r in snapshot_read(spark, tdir).collect()}
    assert latest == {(3, 3.0)}  # version 1 == batch 1's rows
    v0 = {(r.id, r.v) for r in snapshot_read(spark, tdir, version=0).collect()}
    assert v0 == {(1, 1.0), (2, 2.0)}

    # Nuke the checkpoint: the source replays EVERYTHING as batch 0.
    # The tag dedup must swallow the replay without duplicate versions.
    shutil.rmtree(ckpt)
    run()
    assert [h["tag"] for h in snapshot_history(tdir)] == [
        "batch-0",
        "batch-1",
    ]


def test_stateful_counts_on_rocksdb_state_store(spark, sf_dir):
    """The stateful operator must produce identical results on the
    RocksDB state-store provider (the 100 TB deployment choice: state
    spills to local disk instead of living on the JVM heap) as on the
    default HDFS-backed provider, and the listener must still reconcile
    per-operator state rows."""
    from mapreducer_spark.sources import load_table
    from mapreducer_spark.streaming.jobs import (
        BatchMetricsListener,
        read_events_stream,
        run_stream_to_memory,
        stateful_user_counts,
    )

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(provider_conf, None)
    listener = BatchMetricsListener().attach(spark)
    try:
        spark.conf.set(provider_conf, rocksdb)
        name, _ = run_stream_to_memory(
            stateful_user_counts(read_events_stream(spark, sf_dir)),
            output_mode="update",
        )
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        want = {
            r.user_id: (r.n, round(r.s, 2))
            for r in load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for u in want:
            assert got[u][0] == want[u][0]
            assert abs(got[u][1] - want[u][1]) < 0.05
        # listener still sees state-store metrics from the RocksDB run
        batches = listener.wait_for_batches(1)
        stateful = [b for b in batches if b["state_operators"]]
        assert stateful and stateful[-1]["state_operators"][0][
            "num_rows_total"
        ] == len(want)
    finally:
        listener.detach(spark)
        if old is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, old)


def test_published_tags_fold_incrementally_on_miss(spark, tmp_path):
    """ADVICE r7: a tag committed by ANOTHER publisher instance AFTER
    this one loaded its history must still deduplicate — `seen` folds in
    manifests newer than its high-water version on a miss, and never
    re-reads manifests it has already folded."""
    from mapreducer_spark.sources.snapshots import snapshot_write
    from mapreducer_spark.streaming.jobs import PublishedTags

    tdir = str(tmp_path / "snap_tags")
    df = spark.createDataFrame([(1,)], "id long")
    snapshot_write(df, tdir, tag="batch-0")

    tags = PublishedTags(tdir)
    assert tags.seen("batch-0")  # initial fold
    assert not tags.seen("batch-1")

    # Foreign instance publishes batch-1 AFTER our instance started.
    snapshot_write(df, tdir, op="append", tag="batch-1")
    assert tags.seen("batch-1"), "miss must trigger an incremental fold"

    # Our own commit advances the high-water mark without a re-scan.
    v = snapshot_write(df, tdir, op="append", tag="batch-2")
    tags.record("batch-2", v)
    assert tags.seen("batch-2")
    assert tags._scanned_to == v


def test_snapshot_expire_rejects_tiny_orphan_grace(spark, tmp_path):
    """ADVICE r7: a sub-floor grace window could sweep an in-flight
    commit's generation out from under its manifest — rejected loudly."""
    import pytest

    from mapreducer_spark.sources.snapshots import (
        snapshot_expire,
        snapshot_write,
    )

    tdir = str(tmp_path / "snap_grace")
    snapshot_write(spark.createDataFrame([(1,)], "id long"), tdir)
    with pytest.raises(ValueError, match="orphan_grace_sec"):
        snapshot_expire(tdir, keep_last=1, orphan_grace_sec=0)


def test_substring_dedup_stream_matches_batch_incremental(spark, tmp_path):
    """Streaming incremental substring dedup == the batch incremental
    decomposition at every batch boundary: batch N's emitted spans must
    equal a direct computation with old = batches < N, new = batch N,
    and the snapshot index must hold the full corpus's shingle counts
    afterwards (mergeable partial states across generations)."""
    import glob
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducer_spark.operators.dedup import (
        _spans_from_dup_occurrences,
        shingle_occurrences_df,
    )
    from mapreducer_spark.sources.snapshots import snapshot_read
    from mapreducer_spark.streaming.jobs import run_substring_dedup_stream
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.where("doc_id % 2 = 0")
    b2 = docs.where("doc_id % 2 = 1")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, frame in (("b1", b1), ("b2", b2)):
        out = tmp_path / f"stage_{name}"
        frame.coalesce(1).write.parquet(str(out))
        (part,) = glob.glob(str(out / "part-*.parquet"))
        shutil.copy(part, in_dir / f"{name}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    index_dir = str(tmp_path / "shingle_index")
    spans_dir = str(tmp_path / "spans")
    run_substring_dedup_stream(
        stream, index_dir, spans_dir, str(tmp_path / "ckpt")
    )

    def batch_incremental(new_docs, old_docs):
        sh_new = shingle_occurrences_df(new_docs)
        old_idx = (
            shingle_occurrences_df(old_docs)
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("old_cnt"))
        )
        new_cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
        dup = (
            sh_new.withColumn("new_cnt", new_cnt)
            .join(old_idx, "h", "left")
            .where(F.col("old_cnt").isNotNull() | (F.col("new_cnt") > 1))
        )
        return {
            tuple(r)
            for r in _spans_from_dup_occurrences(dup).collect()
        }

    empty = spark.createDataFrame([], "doc_id long, text string")
    got_b0 = {
        tuple(r)
        for r in spark.read.parquet(f"{spans_dir}/batch_id=0").collect()
    }
    got_b1 = {
        tuple(r)
        for r in spark.read.parquet(f"{spans_dir}/batch_id=1").collect()
    }
    # File ordering within availableNow follows modification/list order;
    # resolve which input landed in which batch via the emitted doc ids.
    b1_ids = {r.doc_id for r in b1.select("doc_id").collect()}
    first_is_b1 = all(s[0] in b1_ids for s in got_b0) if got_b0 else True
    first, second = (b1, b2) if first_is_b1 else (b2, b1)
    assert got_b0 == batch_incremental(first, empty)
    assert got_b1 == batch_incremental(second, first)

    # Index holds the FULL corpus counts after both appends.
    idx = (
        snapshot_read(spark, index_dir)
        .groupBy("h")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = (
        shingle_occurrences_df(docs)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert {(r.h, r.cnt) for r in idx.collect()} == {
        (r.h, r.cnt) for r in full.collect()
    }


def test_substring_dedup_stream_restart_appends_index(spark, tmp_path):
    """Restart semantics: a SECOND run over the same checkpoint with one
    more input file processes only the new batch — prior batch dirs are
    untouched, the new batch's spans probe the index built by run 1,
    and the index gains exactly one generation (tag-deduped, no
    replays)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from mapreducer_spark.operators.dedup import shingle_occurrences_df
    from mapreducer_spark.sources.snapshots import (
        snapshot_history,
        snapshot_read,
    )
    from mapreducer_spark.streaming.jobs import run_substring_dedup_stream
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.where("doc_id % 3 = 0")
    b2 = docs.where("doc_id % 3 = 1")

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def add(name, frame):
        out = tmp_path / f"stage_{name}"
        frame.coalesce(1).write.parquet(str(out))
        (part,) = glob.glob(str(out / "part-*.parquet"))
        shutil.copy(part, in_dir / f"{name}.parquet")

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(in_dir)
        )
        run_substring_dedup_stream(
            stream,
            str(tmp_path / "idx"),
            str(tmp_path / "spans"),
            str(tmp_path / "ckpt"),
        )

    add("b1", b1)
    run()
    hist1 = snapshot_history(str(tmp_path / "idx"))
    assert [h["tag"] for h in hist1] == ["batch-0"]
    spans_b0 = spark.read.parquet(str(tmp_path / "spans" / "batch_id=0"))
    b0_rows = {tuple(r) for r in spans_b0.collect()}

    run()  # no new input: nothing changes
    assert len(snapshot_history(str(tmp_path / "idx"))) == 1

    add("b2", b2)
    run()
    hist2 = snapshot_history(str(tmp_path / "idx"))
    assert [h["tag"] for h in hist2] == ["batch-0", "batch-1"]
    # Batch 0's output untouched by the restart.
    assert {
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "spans" / "batch_id=0")
        ).collect()
    } == b0_rows
    # Index now equals full b1+b2 shingle counts.
    idx = (
        snapshot_read(spark, str(tmp_path / "idx"))
        .groupBy("h")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = (
        shingle_occurrences_df(b1.unionByName(b2))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert {(r.h, r.cnt) for r in idx.collect()} == {
        (r.h, r.cnt) for r in full.collect()
    }


def test_kmv_sketch_stream_parity_and_idempotent_replay(spark, tmp_path):
    """Streaming KMV maintenance == batch sketch of the full data (the
    mergeability proof), and a full replay with a fresh checkpoint
    leaves the sketch UNCHANGED (min-merge idempotence — the property
    that makes the job replay-safe without tag bookkeeping)."""
    import glob
    import shutil

    from mapreducer_spark.operators.sketches import kmv_minima
    from mapreducer_spark.sources.snapshots import (
        snapshot_history,
        snapshot_read,
    )
    from mapreducer_spark.streaming.jobs import run_kmv_sketch_stream
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = glob.glob(str(out / "part-*.parquet"))
        shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    sketch_dir = str(tmp_path / "sketch")
    run_kmv_sketch_stream(stream(), sketch_dir, str(tmp_path / "ckpt1"))

    want = {
        tuple(r)
        for r in kmv_minima(
            ev.select(
                "event_type", F.col("user_id").cast("string").alias("item")
            ),
            ["event_type"],
            "item",
        ).collect()
    }
    got = {
        tuple(r)
        for r in snapshot_read(spark, sketch_dir)
        .select("event_type", "h")
        .collect()
    }
    assert got == want
    n_versions = len(snapshot_history(sketch_dir))
    assert n_versions == 3  # one sketch version per micro-batch

    # Full replay (fresh checkpoint, same input): sketch unchanged.
    run_kmv_sketch_stream(stream(), sketch_dir, str(tmp_path / "ckpt2"))
    got2 = {
        tuple(r)
        for r in snapshot_read(spark, sketch_dir)
        .select("event_type", "h")
        .collect()
    }
    assert got2 == want


def test_changepoint_monitor_matches_batch_and_replays(spark, sf_dir, tmp_path):
    """Streaming CUSUM monitor parity: after consuming the fixture in 3
    micro-batches, the report parquet equals the batch
    event_value_changepoint output exactly (decimal daily sums make the
    batch/stream split invisible), and a full replay from a fresh
    checkpoint leaves it unchanged (batch-keyed partials replace, never
    double-count)."""
    import glob as _glob
    import shutil as _shutil

    from mapreducer_spark.operators.events_time import event_value_changepoint
    from mapreducer_spark.streaming.jobs import run_changepoint_monitor
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "ts", "value", "user_id"
    )
    in_dir = tmp_path / "cp_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"cp_stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema(
                "event_type string, ts timestamp, value double, user_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "cp_state")
    report = str(tmp_path / "cp_report")
    run_changepoint_monitor(stream(), state, report, str(tmp_path / "cp_ck1"))

    want = {tuple(r) for r in event_value_changepoint(spark, SF_DIR).collect()}
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want

    # Batch-keyed partials: 3 batches x 5 types x days, no duplicates.
    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "event_type", "day").count().where("count > 1").count()
        == 0
    )

    # Full replay from a fresh checkpoint: report unchanged.
    run_changepoint_monitor(stream(), state, report, str(tmp_path / "cp_ck2"))
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want


def test_monitor_swap_crash_recovery_and_error_propagation(spark, tmp_path):
    """The two hazards that would silently reset the monitors' state:

    1. A crash between _monitor_swap_write's two renames leaves the
       state dir missing with history parked at ``<dir>.old-<batch>`` —
       the next read must RESTORE it, not silently reset accumulated
       state to the current batch's partial.
    2. A real read failure (corrupt parquet) must PROPAGATE, not be
       swallowed into the same silent reset.
    """
    import os as _os

    from mapreducer_spark.streaming.jobs import (
        _monitor_prev_state,
        _monitor_swap_write,
    )

    state = str(tmp_path / "mon_state")
    df1 = spark.range(5).selectExpr("id AS batch_id", "id AS n")
    _monitor_swap_write(df1, state, batch_id=0)
    # Simulate the crash window: target renamed away, tmp never swapped in.
    _os.rename(state, state + ".old-0")
    assert not _os.path.exists(state)
    prev = _monitor_prev_state(spark, state)
    assert prev is not None, "parked .old backup was not recovered"
    assert prev.count() == 5
    assert _os.path.exists(state)  # restored in place

    # Several parked generations: the NEWEST batch id wins.
    _os.rename(state, state + ".old-3")
    _monitor_swap_write(df1.limit(2), state, batch_id=4)
    _os.rename(state, state + ".old-12")
    recovered = _monitor_prev_state(spark, state)
    assert recovered.count() == 2  # .old-12 (newest), not .old-3

    # Corrupt state must raise, never silently reset.
    bad = str(tmp_path / "mon_bad")
    _os.makedirs(bad)
    with open(_os.path.join(bad, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")
    import pytest as _pytest

    with _pytest.raises(Exception):
        df = _monitor_prev_state(spark, bad)
        assert df is not None
        df.collect()

    # 3. Orphan .tmp-* dirs (crash BEFORE the renames) must be swept by
    #    the next swap write, not leak unboundedly across crash loops.
    orphan = state + ".tmp-99-deadbeef"
    _os.makedirs(orphan)
    _monitor_swap_write(df1, state, batch_id=13)
    assert not _os.path.exists(orphan), "orphan .tmp dir not swept"
    assert spark.read.parquet(state).count() == 5


def test_seasonal_anomaly_monitor_matches_batch(spark, tmp_path):
    """Streaming dow-anomaly monitor: after draining 3 micro-batches the
    report equals the batch events_seasonal_anomaly EXACTLY; partials
    are batch-keyed (no double counts); full replay from a fresh
    checkpoint leaves the report unchanged."""
    import glob as _glob
    import shutil as _shutil

    from mapreducer_spark.operators.events_time import (
        events_seasonal_anomaly,
    )
    from mapreducer_spark.streaming.jobs import run_seasonal_anomaly_monitor
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "ts", "value", "user_id"
    )
    in_dir = tmp_path / "sa_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"sa_stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema(
                "event_type string, ts timestamp, value double, user_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "sa_state")
    report = str(tmp_path / "sa_report")
    run_seasonal_anomaly_monitor(
        stream(), state, report, str(tmp_path / "sa_ck1")
    )

    want = {
        tuple(r) for r in events_seasonal_anomaly(spark, SF_DIR).collect()
    }
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want

    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "day", "dow").count().where("count > 1").count()
        == 0
    )

    run_seasonal_anomaly_monitor(
        stream(), state, report, str(tmp_path / "sa_ck2")
    )
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want


def test_heavy_hitters_monitor_matches_batch(spark, tmp_path):
    """Streaming CMS heavy-hitters monitor: after 3 micro-batches the
    report equals the batch cms_heavy_hitters EXACTLY (the mergeable-
    sketch property made operational); replay-safe via batch-keyed
    partials; fresh-checkpoint full replay leaves it unchanged."""
    import glob as _glob
    import shutil as _shutil

    from mapreducer_spark.operators.sketches import cms_heavy_hitters
    from mapreducer_spark.streaming.jobs import run_heavy_hitters_monitor
    from tests.conftest import SF_DIR

    # Split by EVENT id (not user): a user's counts then genuinely
    # merge ACROSS batches, which is the property under test.
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "ts", "value", "user_id"
    )
    in_dir = tmp_path / "hh_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"hh_stage_{k}"
        ev.where(f"event_id % 3 = {k}").drop("event_id").coalesce(
            1
        ).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema(
                "event_type string, ts timestamp, value double, user_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "hh_state")
    report = str(tmp_path / "hh_report")
    run_heavy_hitters_monitor(
        stream(), state, report, str(tmp_path / "hh_ck1")
    )

    want = {tuple(r) for r in cms_heavy_hitters(spark, SF_DIR).collect()}
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want

    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "user_id").count().where("count > 1").count()
        == 0
    )

    run_heavy_hitters_monitor(
        stream(), state, report, str(tmp_path / "hh_ck2")
    )
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want


def test_stickiness_monitor_matches_batch_and_replays(spark, tmp_path):
    """Streaming DAU/WAU stickiness monitor parity (the r8 verdict's
    retention/growth-family twin): after draining the fixture in 3
    micro-batches the report equals the batch user_stickiness_dau_wau
    output exactly (distinct (day,user) pairs make the batch/stream
    split invisible), and a full replay from a fresh checkpoint leaves
    it unchanged (set-union state is idempotent)."""
    import glob as _glob
    import shutil as _shutil

    from mapreducer_spark.operators.events_time import (
        user_stickiness_dau_wau,
    )
    from mapreducer_spark.streaming.jobs import run_stickiness_monitor
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "ts", "user_id"
    )
    in_dir = tmp_path / "st_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"st_stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "st_state")
    report = str(tmp_path / "st_report")
    run_stickiness_monitor(stream(), state, report, str(tmp_path / "st_ck1"))

    want = {tuple(r) for r in user_stickiness_dau_wau(spark, SF_DIR).collect()}
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want and want

    # State grain: distinct (day, user) pairs, no per-batch multiplicity.
    st = spark.read.parquet(state)
    assert st.count() == st.distinct().count()
    assert set(st.columns) == {"day", "user_id"}

    # Full replay from a fresh checkpoint: report unchanged (idempotent
    # set-union state — the same pairs fold in again, changing nothing).
    run_stickiness_monitor(stream(), state, report, str(tmp_path / "st_ck2"))
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want


def test_quantile_monitor_matches_batch_and_replays(spark, tmp_path):
    """Streaming histogram-quantile monitor parity: after draining the
    fixture's event values in 3 micro-batches the report equals the
    shared batch algebra applied to the whole fixture (histograms add
    cell-wise, so the split is invisible), and a fresh-checkpoint
    replay leaves it unchanged (batch-keyed partials replace)."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from mapreducer_spark.operators.sketches import (
        histogram_quantile_report,
    )
    from mapreducer_spark.streaming.jobs import run_quantile_monitor
    from tests.conftest import SF_DIR

    width = 25.0
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "value"
    )
    in_dir = tmp_path / "hq_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"hq_stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "hq_state")
    report = str(tmp_path / "hq_report")
    run_quantile_monitor(
        stream(), state, report, str(tmp_path / "hq_ck1"), width=width
    )

    batch_h = ev.groupBy(
        F.floor(F.col("value") / width).cast("long").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    want = {
        tuple(r) for r in histogram_quantile_report(batch_h, width).collect()
    }
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want and len(want) == 4

    # Batch-keyed partials, domain-bounded grain.
    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "b").count().where("count > 1").count() == 0
    )

    # Fresh-checkpoint replay: report unchanged.
    run_quantile_monitor(
        stream(), state, report, str(tmp_path / "hq_ck2"), width=width
    )
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want


def test_dp_count_monitor_matches_batch_and_replays(spark, tmp_path):
    """Streaming DP count monitor parity: after draining the fixture's
    events in 3 micro-batches, the report equals the SHARED release
    algebra (dp_count_release) applied from scratch to the full counts
    at release index 3 — and a fresh-checkpoint replay reproduces it
    byte-identically (hash noise + batch-keyed partials: replay can
    neither re-roll the noise nor double-spend the budget)."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from mapreducer_spark.operators.profiling import dp_count_release
    from mapreducer_spark.streaming.jobs import run_dp_count_monitor
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_type"
    )
    in_dir = tmp_path / "dp_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"dp_stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema("user_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "dp_state")
    report = str(tmp_path / "dp_report")
    run_dp_count_monitor(stream(), state, report, str(tmp_path / "dp_ck1"))

    totals = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    want = {
        tuple(r) + (3, 1.0, 3.0)
        for r in dp_count_release(
            totals, "event_type", "dp-monitor-v1|3|"
        ).collect()
    }
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want and len(want) > 0

    # Budget accounting and mechanism sanity on the released rows.
    for r in spark.read.parquet(report).collect():
        assert r.releases_so_far == 3
        assert r.eps_spent_total == 3.0
        assert r.dp_count >= 0

    # Batch-keyed partials at the (batch, event_type) grain.
    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "event_type")
        .count()
        .where("count > 1")
        .count()
        == 0
    )

    # Fresh-checkpoint replay: identical report (same release index ->
    # same salt -> same noise).
    run_dp_count_monitor(stream(), state, report, str(tmp_path / "dp_ck2"))
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want

    # eps_per_release is the MECHANISM's epsilon, not just a label
    # (ADVICE r10): a non-default eps must both change the noise draw
    # (thresholds derived from eps) and be what the budget fields report.
    def one_batch():
        return spark.readStream.schema(
            "user_id long, event_type string"
        ).parquet(str(in_dir))

    state_e = str(tmp_path / "dp_state_e")
    report_e = str(tmp_path / "dp_report_e")
    run_dp_count_monitor(
        one_batch(),
        state_e,
        report_e,
        str(tmp_path / "dp_ck3"),
        eps_per_release=0.5,
    )
    want_e = {
        tuple(r) + (1, 0.5, 0.5)
        for r in dp_count_release(
            totals, "event_type", "dp-monitor-v1|1|", eps=0.5
        ).collect()
    }
    got_e = {tuple(r) for r in spark.read.parquet(report_e).collect()}
    assert got_e == want_e and len(want_e) > 0
    # eps=0.5 noise comes from a WIDER distribution than eps=1; the
    # draws differ from the eps=1 table's on at least one key here
    # (checked, not assumed — same salt, same uniforms, different CDF).
    base = {
        (r.event_type, r.dp_noise)
        for r in dp_count_release(
            totals, "event_type", "dp-monitor-v1|1|"
        ).collect()
    }
    half = {(r.event_type, r.dp_noise) for r in spark.read.parquet(report_e).collect()}
    assert base != half


def test_dp_histogram_monitor_matches_batch_and_replays(spark, tmp_path):
    """Streaming DP HISTOGRAM monitor parity: after draining the
    fixture's events in 3 micro-batches, the report equals the SHARED
    release algebra (dp_histogram_release over the full-grid clamped
    value histogram) at release index 3 — and a fresh-checkpoint replay
    reproduces it byte-identically.  Also pins the grid contract (all
    32 cells present every release, empty ones included) and the
    monotone CDF."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducer_spark.operators.profiling import (
        _DPEV_BUCKETS,
        _DPEV_CLAMP,
        _DPEV_WIDTH,
        dp_histogram_release,
    )
    from mapreducer_spark.streaming.jobs import run_dp_histogram_monitor
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "value"
    )
    in_dir = tmp_path / "dph_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"dph_stage_{k}"
        ev.where(f"user_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    state = str(tmp_path / "dph_state")
    report = str(tmp_path / "dph_report")
    run_dp_histogram_monitor(
        stream(), state, report, str(tmp_path / "dph_ck1")
    )

    true_h = ev.groupBy(
        F.floor(
            F.least(F.col("value"), F.lit(float(_DPEV_CLAMP))) / _DPEV_WIDTH
        )
        .cast("long")
        .alias("bucket")
    ).agg(F.count(F.lit(1)).alias("tn"))
    rel = dp_histogram_release(true_h, _DPEV_BUCKETS, "dp-hist-monitor-v1|3|")
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        tuple(r) + (3, 1.0, 3.0)
        for r in rel.select(
            "bucket",
            (F.col("bucket") * _DPEV_WIDTH).cast("long").alias("lo_value"),
            "true_n",
            "dp_noise",
            "dp_n",
            F.sum("dp_n").over(wc).cast("long").alias("dp_cdf_n"),
        ).collect()
    }
    got = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got == want and len(want) == _DPEV_BUCKETS

    # Grid + CDF contracts on the released rows.
    rows = sorted(spark.read.parquet(report).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(_DPEV_BUCKETS))
    assert all(r.dp_n >= 0 for r in rows)
    cdf = [r.dp_cdf_n for r in rows]
    assert cdf == sorted(cdf) and cdf[-1] == sum(r.dp_n for r in rows)
    assert all(
        r.releases_so_far == 3 and r.eps_spent_total == 3.0 for r in rows
    )

    # Batch-keyed partials at the (batch, bucket) grain.
    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "bucket").count().where("count > 1").count()
        == 0
    )

    # Fresh-checkpoint replay: identical report (same release index ->
    # same salt -> same noise).
    run_dp_histogram_monitor(
        stream(), state, report, str(tmp_path / "dph_ck2")
    )
    got2 = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got2 == want


def test_topk_retrieval_monitor_matches_batch_and_replays(spark, tmp_path):
    """Streaming incremental-retrieval parity (the retrieval shelf's
    batch<->stream closure, VERDICT r11 #5): after draining the
    embeddings fixture in 3 micro-batches, the snapshot-versioned pool
    equals similarity_topk's batch output and the MMR report equals
    similarity_topk_mmr's — row for row, because both run through the
    SHARED scoring/selection code paths.  A fresh-checkpoint replay
    reproduces both byte-identically, and the state obeys the
    batch-keyed-partial contract."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from mapreducer_spark.operators.similarity import (
        _N_QUERIES,
        similarity_topk,
        similarity_topk_mmr,
    )
    from mapreducer_spark.streaming.jobs import run_topk_retrieval_monitor
    from tests.conftest import SF_DIR

    em = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    in_dir = tmp_path / "ret_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"ret_stage_{k}"
        em.where(f"vec_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema(em.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    queries = em.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    state = str(tmp_path / "ret_state")
    pool = str(tmp_path / "ret_pool")
    report = str(tmp_path / "ret_report")
    run_topk_retrieval_monitor(
        stream(), queries, state, pool, report, str(tmp_path / "ret_ck1")
    )

    want_pool = {tuple(r) for r in similarity_topk(spark, SF_DIR).collect()}
    got_pool = {tuple(r) for r in spark.read.parquet(pool).collect()}
    assert got_pool == want_pool

    want_mmr = {
        tuple(r) for r in similarity_topk_mmr(spark, SF_DIR).collect()
    }
    got_mmr = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got_mmr == want_mmr

    # Batch-keyed partial contract: 3 batches, <= top-k rows per
    # (batch, query), no duplicate candidates across batches.
    st = spark.read.parquet(state)
    assert st.select("batch_id").distinct().count() == 3
    assert (
        st.groupBy("batch_id", "q_id").count().where("count > 10").count()
        == 0
    )
    assert (
        st.groupBy("q_id", "vec_id").count().where("count > 1").count() == 0
    )

    # Fresh-checkpoint replay: byte-identical pool and report.
    run_topk_retrieval_monitor(
        stream(), queries, state, pool, report, str(tmp_path / "ret_ck2")
    )
    assert {tuple(r) for r in spark.read.parquet(pool).collect()} == want_pool
    assert (
        {tuple(r) for r in spark.read.parquet(report).collect()} == want_mmr
    )


def test_topk_retrieval_monitor_dedups_cross_batch_duplicates(
    spark, tmp_path
):
    """Cross-batch duplicate deliveries (re-written/compacted input
    files handing the same vec_id to two batch_ids) must not corrupt
    the pool or the MMR re-rank (ADVICE r12): the pool collapses to one
    row per (q_id, vec_id) keeping max sim — scoring is deterministic,
    so a true re-delivery carries the identical sim — and a drain that
    replays one slice as an extra batch still equals the batch
    operators row for row."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from mapreducer_spark.operators.similarity import (
        _N_QUERIES,
        similarity_topk,
        similarity_topk_mmr,
    )
    from mapreducer_spark.streaming.jobs import run_topk_retrieval_monitor
    from tests.conftest import SF_DIR

    em = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    in_dir = tmp_path / "dup_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"dup_stage_{k}"
        em.where(f"vec_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")
    # Slice 0 delivered AGAIN as a 4th file: every vec_id % 3 == 0
    # candidate now arrives in two distinct micro-batches.
    _shutil.copy(in_dir / "b0.parquet", in_dir / "b3_dup.parquet")

    stream = (
        spark.readStream.schema(em.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    queries = em.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    pool = str(tmp_path / "dup_pool")
    report = str(tmp_path / "dup_report")
    run_topk_retrieval_monitor(
        stream,
        queries,
        str(tmp_path / "dup_state"),
        pool,
        report,
        str(tmp_path / "dup_ck"),
    )

    want_pool = {tuple(r) for r in similarity_topk(spark, SF_DIR).collect()}
    got_pool = {tuple(r) for r in spark.read.parquet(pool).collect()}
    assert got_pool == want_pool
    want_mmr = {
        tuple(r) for r in similarity_topk_mmr(spark, SF_DIR).collect()
    }
    got_mmr = {tuple(r) for r in spark.read.parquet(report).collect()}
    assert got_mmr == want_mmr


def test_ivf_ingest_monitor_matches_batch_and_replays(spark, tmp_path):
    """Streaming index-maintenance parity (the ann_ivf_delta_assign
    stream twin): after draining the embeddings fixture in 3
    micro-batches, the per-cluster occupancy report equals a full batch
    assignment against the same frozen centroids — assignment runs
    through the SHARED _ivf_assigned_live argmax, so the equality is
    one code path observed from two runtimes.  Fresh-checkpoint replay
    reproduces the report byte-identically."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from mapreducer_spark.operators.similarity import (
        _centroid_list,
        _index_frame,
        _ivf_assigned_live,
    )
    from mapreducer_spark.streaming.jobs import run_ivf_ingest_monitor
    from tests.conftest import SF_DIR

    em = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    in_dir = tmp_path / "ivf_in"
    in_dir.mkdir()
    for k in range(3):
        out = tmp_path / f"ivf_stage_{k}"
        em.where(f"vec_id % 3 = {k}").coalesce(1).write.parquet(str(out))
        (part,) = _glob.glob(str(out / "part-*.parquet"))
        _shutil.copy(part, in_dir / f"b{k}.parquet")

    def stream():
        return (
            spark.readStream.schema(em.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    index = _index_frame(spark, _centroid_list(em, SF_DIR))
    state = str(tmp_path / "ivf_state")
    report = str(tmp_path / "ivf_report")
    run_ivf_ingest_monitor(
        stream(), index, state, report, str(tmp_path / "ivf_ck1")
    )

    full = (
        _ivf_assigned_live(em, index)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    want = {(r.cluster, r.n_vectors) for r in full.collect()}
    rows = spark.read.parquet(report).collect()
    got = {(r.cluster, r.n_vectors) for r in rows}
    assert got == want
    assert all(1 <= r.n_batches <= 3 for r in rows)

    # r13: the drained report's REBALANCE columns equal the batch
    # decision readout over the same occupancy — one decision code
    # path (ivf_rebalance_readout) observed from two runtimes.
    from mapreducer_spark.operators.similarity import ivf_rebalance_readout

    want_read = {
        (
            r.cluster,
            r.n_vectors,
            r.frac_of_index,
            r.occupancy_ratio,
            r.rule_k,
            r.index_k,
            r.k_lags_rule,
            r.action,
        )
        for r in ivf_rebalance_readout(
            full, index.count(), n_col="n_vectors"
        ).collect()
    }
    got_read = {
        (
            r.cluster,
            r.n_vectors,
            r.frac_of_index,
            r.occupancy_ratio,
            r.rule_k,
            r.index_k,
            r.k_lags_rule,
            r.action,
        )
        for r in rows
    }
    assert got_read == want_read

    # State = the inverted-lists table: one row per ingested vector,
    # batch-keyed, no duplicates.
    st = spark.read.parquet(state)
    assert st.count() == em.count()
    assert st.select("vec_id").distinct().count() == em.count()
    assert st.select("batch_id").distinct().count() == 3

    # Fresh-checkpoint replay: byte-identical report.
    run_ivf_ingest_monitor(
        stream(), index, state, report, str(tmp_path / "ivf_ck2")
    )
    got2 = {
        (r.cluster, r.n_vectors, r.n_batches)
        for r in spark.read.parquet(report).collect()
    }
    assert got2 == {
        (r.cluster, r.n_vectors, r.n_batches) for r in rows
    }
