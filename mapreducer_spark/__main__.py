"""CLI — the migration path for a reference user.

The reference is operated as four binaries (Mapper, Reducer,
WorkerManager, MasterManager — reference CMakeLists.txt:6-18) whose only
job is word count over ./data.  Here the whole topology is one command:

    python -m mapreducer_spark wordcount --data ./data --out ./out
    python -m mapreducer_spark query word_count --sf-dir /root/testdata/sf0.01
    python -m mapreducer_spark list-queries

Cluster execution is Spark-native: the same commands run under
spark-submit against a real cluster master; there is no master/worker
machinery to operate (SURVEY.md §3's entire distributed lifecycle is
Spark's scheduler).
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_spark(args: argparse.Namespace):
    from mapreducer_spark.session import get_spark

    return get_spark(
        app_name="mapreducer-spark-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_wordcount(args: argparse.Namespace) -> int:
    """The reference's job, end to end: text dir in, `word : count` out."""
    from mapreducer_spark.sources.text_corpus import (
        word_count_text_dir,
        write_kv_lines,
    )

    spark = _get_spark(args)
    wc = word_count_text_dir(spark, args.data)
    if args.out:
        write_kv_lines(wc, args.out)
        print(f"wrote sorted 'word : count' lines to {args.out}")
    else:
        for r in wc.collect():
            print(f"{r.word} : {r.cnt}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from mapreducer_spark.registry import all_queries

    queries = all_queries()
    if args.name not in queries:
        print(f"unknown query {args.name!r}; run list-queries", file=sys.stderr)
        return 2
    spark = _get_spark(args)
    df = queries[args.name].fn(spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_ingest(args: argparse.Namespace) -> int:
    from mapreducer_spark.sources.ingest import ingest_warehouse

    spark = _get_spark(args)
    paths = ingest_warehouse(spark, args.sf_dir, args.warehouse)
    for name, p in sorted(paths.items()):
        print(f"{name}: {p}")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from mapreducer_spark.sources.ingest import compact_parquet_dir

    spark = _get_spark(args)
    n = compact_parquet_dir(spark, args.path, target_file_mb=args.target_mb)
    print(f"compacted {args.path} -> {n} file(s)")
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """End-to-end corpus curation: Gopher quality gate -> exact content
    dedup (keep min doc_id) -> optional substring-span removal -> commit
    the cleaned corpus as a snapshot version.  The operational verb a
    training-data team runs nightly; every stage is the same expression
    pipeline the oracle-checked queries use."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducer_spark.functions.hashes import md5_int64
    from mapreducer_spark.operators.curation import repetition_metrics
    from mapreducer_spark.plans.inspect import checkpoint_inspected
    from mapreducer_spark.sources import load_table
    from mapreducer_spark.sources.snapshots import snapshot_write

    spark = _get_spark(args)
    d = load_table(spark, args.sf_dir, "documents").select("doc_id", "text")
    n_in = d.count()
    # Checkpoint before filtering on `keep`: pushed into the scan, the
    # predicate re-evaluates the Gopher HOF tree per reference (same fix
    # as curation_pipeline_summary).
    metrics = checkpoint_inspected(
        repetition_metrics(d).select("doc_id", "keep"), "curate.metrics"
    )
    kept = metrics.where("keep").select("doc_id").join(d, "doc_id")
    w = Window.partitionBy(md5_int64(F.col("text"))).orderBy("doc_id")
    survivors = (
        kept.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    if args.drop_substring_spans:
        from mapreducer_spark.operators.dedup import (
            corpus_after_substring_dedup,
        )

        cleaned = corpus_after_substring_dedup(spark, args.sf_dir).select(
            "doc_id", F.col("kept_text").alias("text")
        )
        survivors = (
            survivors.drop("text")
            .join(cleaned, "doc_id")
            .where(F.length("text") > 0)
        )
    version = snapshot_write(survivors, args.out, op="overwrite")
    n_out = survivors.count()
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_out": n_out,
                "dropped": n_in - n_out,
                "snapshot_version": version,
                "table_dir": args.out,
            }
        )
    )
    return 0


def cmd_monitor_changepoints(args: argparse.Namespace) -> int:
    """Run the streaming CUSUM change-point monitor over the events
    fixture (availableNow: drain whatever is present, then stop) and
    print the current report — the operational twin of the
    event_value_changepoint query; state survives restarts via the
    batch-keyed partial table, so re-running after new event files land
    extends the monitored history instead of recounting it."""
    from mapreducer_spark.streaming.jobs import (
        read_events_stream,
        run_changepoint_monitor,
    )

    spark = _get_spark(args)
    run_changepoint_monitor(
        read_events_stream(spark, args.sf_dir),
        args.state_dir,
        args.report_dir,
        args.checkpoint,
    )
    report = spark.read.parquet(args.report_dir)
    for row in sorted(report.collect(), key=lambda r: r.event_type):
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_monitor_seasonal(args: argparse.Namespace) -> int:
    """Run the streaming day-of-week seasonal anomaly monitor
    (availableNow) and print the current report — the operational twin
    of the events_seasonal_anomaly query; the batch-keyed daily state
    table makes re-runs extend history instead of recounting."""
    from mapreducer_spark.streaming.jobs import (
        read_events_stream,
        run_seasonal_anomaly_monitor,
    )

    spark = _get_spark(args)
    run_seasonal_anomaly_monitor(
        read_events_stream(spark, args.sf_dir),
        args.state_dir,
        args.report_dir,
        args.checkpoint,
    )
    report = spark.read.parquet(args.report_dir)
    for row in sorted(report.collect(), key=lambda r: (str(r.day), r.dow)):
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_monitor_dp_counts(args: argparse.Namespace) -> int:
    """Run the streaming DP count monitor (availableNow) and print the
    current release — the operational twin of the dp_nation_order_counts
    mechanism over streaming event-type counts: every drain folds new
    events into the batch-keyed state, draws FRESH hash noise for the
    new release index through the shared dp_count_release algebra, and
    reports the sequential-composition budget spent so far."""
    from mapreducer_spark.streaming.jobs import (
        read_events_stream,
        run_dp_count_monitor,
    )

    spark = _get_spark(args)
    run_dp_count_monitor(
        read_events_stream(spark, args.sf_dir),
        args.state_dir,
        args.report_dir,
        args.checkpoint,
        eps_per_release=args.eps_per_release,
    )
    report = spark.read.parquet(args.report_dir)
    for row in sorted(report.collect(), key=lambda r: r.event_type):
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_monitor_dp_histogram(args: argparse.Namespace) -> int:
    """Run the streaming DP histogram monitor (availableNow) and print
    the current release — the distribution-valued sibling of
    monitor-dp-counts: every drain folds new events into the
    batch-keyed per-bucket state, releases the full fixed-grid clamped
    value histogram with FRESH hash noise through the shared
    dp_histogram_release algebra (empty cells noised too), and reports
    the sequential-composition budget spent so far."""
    from mapreducer_spark.streaming.jobs import (
        read_events_stream,
        run_dp_histogram_monitor,
    )

    spark = _get_spark(args)
    run_dp_histogram_monitor(
        read_events_stream(spark, args.sf_dir),
        args.state_dir,
        args.report_dir,
        args.checkpoint,
        eps_per_release=args.eps_per_release,
    )
    report = spark.read.parquet(args.report_dir)
    for row in sorted(report.collect(), key=lambda r: r.bucket):
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_monitor_topk_retrieval(args: argparse.Namespace) -> int:
    """Run the streaming incremental-retrieval monitor (availableNow)
    and print the current MMR-re-ranked selection — the retrieval
    shelf's batch<->stream closure: per-batch candidate top-k partials
    merge into a snapshot-versioned pool, re-ranked through the SAME
    greedy MMR algebra as similarity_topk_mmr."""
    from pyspark.sql import functions as F

    from mapreducer_spark.operators.similarity import _N_QUERIES
    from mapreducer_spark.sources import load_table
    from mapreducer_spark.streaming.jobs import (
        read_embeddings_stream,
        run_topk_retrieval_monitor,
    )

    spark = _get_spark(args)
    queries = (
        load_table(spark, args.sf_dir, "embeddings")
        .where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    )
    run_topk_retrieval_monitor(
        read_embeddings_stream(spark, args.sf_dir),
        queries,
        args.state_dir,
        args.pool_dir,
        args.report_dir,
        args.checkpoint,
    )
    report = spark.read.parquet(args.report_dir)
    for row in sorted(report.collect(), key=lambda r: (r.q_id, r.mmr_rank)):
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_snapshot_diff(args: argparse.Namespace) -> int:
    from mapreducer_spark.sources.snapshots import snapshot_diff

    spark = _get_spark(args)
    df = snapshot_diff(
        spark,
        args.table_dir,
        args.from_version,
        args.to_version,
        args.keys.split(","),
    )
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_snapshot_merge(args: argparse.Namespace) -> int:
    """MERGE a parquet batch of updates into a snapshot table as a new
    version (latest row per key wins; history stays time-travelable)."""
    from mapreducer_spark.sources.snapshots import snapshot_merge

    spark = _get_spark(args)
    updates = spark.read.parquet(args.updates)
    v = snapshot_merge(
        updates,
        args.table_dir,
        args.keys.split(","),
        args.order_by.split(","),
        tag=args.tag,
    )
    print(f"merged {args.updates} into {args.table_dir} as version {v}")
    return 0


def cmd_snapshot_delete(args: argparse.Namespace) -> int:
    """Merge-on-read targeted DELETE: commit an equality-delete file (no
    data rewrite; readers reconcile, compact/VACUUM folds)."""
    from mapreducer_spark.sources.snapshots import (
        snapshot_delete,
        snapshot_delete_where,
    )

    spark = _get_spark(args)
    if (args.where is None) == (args.deletes is None):
        print("pass exactly one of --where or --deletes", file=sys.stderr)
        return 2
    if args.where is not None:
        v = snapshot_delete_where(
            spark, args.table_dir, args.where, tag=args.tag
        )
        print(
            f"committed delete-where {args.where!r} on {args.table_dir} "
            f"as version {v} (merge-on-read; compact to fold)"
        )
    else:
        deletes = spark.read.parquet(args.deletes)
        v = snapshot_delete(deletes, args.table_dir, tag=args.tag)
        print(
            f"committed equality-delete file {args.deletes} on "
            f"{args.table_dir} as version {v} (merge-on-read; "
            "compact to fold)"
        )
    return 0


def cmd_snapshot_history(args: argparse.Namespace) -> int:
    import json

    from mapreducer_spark.sources.snapshots import snapshot_history

    for manifest in snapshot_history(args.table_dir):
        print(json.dumps(manifest))
    return 0


def cmd_snapshot_read(args: argparse.Namespace) -> int:
    from mapreducer_spark.sources.snapshots import snapshot_read

    spark = _get_spark(args)
    df = snapshot_read(
        spark, args.table_dir, version=args.version, as_of=args.as_of
    )
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_snapshot_expire(args: argparse.Namespace) -> int:
    from mapreducer_spark.sources.snapshots import snapshot_expire

    expired = snapshot_expire(
        args.table_dir,
        keep_last=args.keep_last,
        orphan_grace_sec=args.orphan_grace_sec,
    )
    print(f"expired versions: {expired}")
    return 0


def cmd_snapshot_compact(args: argparse.Namespace) -> int:
    from mapreducer_spark.sources.snapshots import snapshot_compact

    spark = _get_spark(args)
    v = snapshot_compact(
        spark,
        args.table_dir,
        target_rows_per_file=args.target_rows_per_file,
    )
    print(f"compacted into version {v}")
    return 0


def cmd_export_wds(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from mapreducer_spark.sources.tables import load_table
    from mapreducer_spark.sources.wds import write_wds_shards

    spark = _get_spark(args)
    docs = load_table(spark, args.sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").cast("string").alias("key"), "text", "lang", "source"
    )
    df = base.selectExpr(
        "key", "'txt' AS ext", "CAST(text AS BINARY) AS payload"
    ).unionByName(
        base.selectExpr(
            "key",
            "'json' AS ext",
            "CAST(to_json(struct(key, lang, source)) AS BINARY) AS payload",
        )
    )
    man = write_wds_shards(df, args.out, n_shards=args.n_shards).collect()
    for m in sorted(man, key=lambda r: r.shard):
        print(
            f"{m.shard}  samples={m.n_samples}  files={m.n_files}  "
            f"bytes={m.n_bytes}"
        )
    print(f"total samples: {sum(m.n_samples for m in man)}")
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from mapreducer_spark.sql_api import sql

    spark = _get_spark(args)
    df = sql(spark, args.sf_dir, args.query)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    from mapreducer_spark.plans import formatted_plan
    from mapreducer_spark.registry import all_queries

    queries = all_queries()
    if args.name not in queries:
        print(f"unknown query {args.name!r}; run list-queries", file=sys.stderr)
        return 2
    spark = _get_spark(args)
    print(formatted_plan(queries[args.name].fn(spark, args.sf_dir)))
    return 0


def cmd_list_queries(args: argparse.Namespace) -> int:
    from mapreducer_spark.registry import all_queries

    for name, q in sorted(all_queries().items()):
        kind = "oracle" if q.oracle else "rows-only"
        if args.json:
            print(json.dumps({"name": name, "check": kind, "doc": q.doc.strip()}))
        else:
            print(f"{name:35s} [{kind}] {q.doc.strip().splitlines()[0]}")
    return 0


def cmd_retrain_index(args: argparse.Namespace) -> int:
    """Close the ANN index lifecycle from the CLI: when the drift guard
    refuses a stale frozen index (regenerated fixture), this retrains
    coarse centroids IN-ENGINE with the oracle-checked spherical
    k-means dataflow and re-freezes index + fingerprint — the
    operational verb pairing tools/train_ivf_index.py's offline MLlib
    path (reference has no index lifecycle at all; this is the 100 TB
    serving posture: train once, serve many, retrain on drift)."""
    from mapreducer_spark.operators.similarity import (
        frozen_index_for,
        retrain_frozen_index,
    )

    spark = _get_spark(args)
    if not args.force and frozen_index_for(args.sf_dir) is not None:
        print(
            f"frozen index for {args.sf_dir} is fingerprint-fresh; "
            "nothing to do (--force retrains anyway)"
        )
        return 0
    trained = retrain_frozen_index(spark, args.sf_dir)
    print(
        f"retrained {len(trained)} centroids x {len(trained[0])} dims "
        f"for {args.sf_dir}; index + fingerprint re-frozen"
    )
    print(
        "NOTE: serving picks up the refreshed index immediately, but "
        "oracle SQL strings for ann_*/semdedup queries were rendered "
        "at import with the OLD centroid literals — restart (re-import) "
        "before running an oracle-gated verification in this process."
    )
    return 0


def cmd_verify(args: argparse.Namespace) -> int:
    """User-facing correctness gate: run a query on Spark AND its
    declared DuckDB oracle SQL on the same parquet tables, comparing
    through the package gate core (mapreducer_spark/oracle.py) — the
    EXACT normalization the test-suite gate enforces (type-tagged
    canonical cells, -0.0/NaN/engine-repr safe), plus its executed-plan
    budgets.  ``--all`` sweeps every oracle-backed
    query (slow; prints one line each)."""
    from mapreducer_spark.oracle import assert_matches_oracle
    from mapreducer_spark.registry import all_queries

    qs = all_queries()
    names = sorted(qs) if args.all else args.names
    if not names:
        print("pass query names or --all", file=sys.stderr)
        return 2
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = _get_spark(args)
    n_bad = 0
    for name in names:
        q = qs[name]
        if q.oracle is None:
            print(json.dumps({"query": name, "status": "rows-only"}))
            continue
        try:
            assert_matches_oracle(spark, q, args.sf_dir)
            print(json.dumps({"query": name, "status": "MATCH"}))
        except AssertionError as e:
            n_bad += 1
            print(
                json.dumps(
                    {
                        "query": name,
                        "status": "MISMATCH",
                        "detail": str(e)[:400],
                    }
                )
            )
    return 1 if n_bad else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mapreducer_spark")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    wc = sub.add_parser("wordcount", help="word count over a text directory")
    wc.add_argument("--data", required=True, help="input text directory")
    wc.add_argument("--out", help="output dir for 'word : count' lines")
    wc.set_defaults(fn=cmd_wordcount)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--out", help="write result parquet here instead of showing")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    ex = sub.add_parser("explain", help="print a registered query's plan")
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.set_defaults(fn=cmd_explain)

    lq = sub.add_parser("list-queries", help="list registered queries")
    lq.add_argument("--json", action="store_true")
    lq.set_defaults(fn=cmd_list_queries)

    ing = sub.add_parser(
        "ingest", help="write tables into the partitioned warehouse layout"
    )
    ing.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ing.add_argument("--warehouse", required=True)
    ing.set_defaults(fn=cmd_ingest)

    cp = sub.add_parser(
        "compact", help="compact a small-files parquet dir (atomic swap)"
    )
    cp.add_argument("--path", required=True)
    cp.add_argument("--target-mb", type=int, default=128)
    cp.set_defaults(fn=cmd_compact)

    cu = sub.add_parser(
        "curate",
        help="quality-gate + dedup the documents table and commit the "
        "cleaned corpus as a snapshot version",
    )
    cu.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cu.add_argument("out", help="snapshot table dir for the cleaned corpus")
    cu.add_argument(
        "--drop-substring-spans",
        action="store_true",
        help="also remove corpus-repeated >=k-token spans (ExactSubstr)",
    )
    cu.set_defaults(fn=cmd_curate)

    mc = sub.add_parser(
        "monitor-changepoints",
        help="streaming CUSUM change-point monitor: fold new events into "
        "the daily state table and refresh the report",
    )
    mc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    mc.add_argument("state_dir", help="batch-keyed daily partials table")
    mc.add_argument("report_dir", help="current change-point report")
    mc.add_argument("--checkpoint", required=True)
    mc.set_defaults(fn=cmd_monitor_changepoints)

    dpm = sub.add_parser(
        "monitor-dp-counts",
        help="streaming DP count release: fold new events into the "
        "batch-keyed state, release per-event-type counts with fresh "
        "discrete-Laplace noise, and account the epsilon budget spent",
    )
    dpm.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    dpm.add_argument("state_dir", help="batch-keyed count partials table")
    dpm.add_argument("report_dir", help="current DP release + budget")
    dpm.add_argument("--checkpoint", required=True)
    dpm.add_argument("--eps-per-release", type=float, default=1.0)
    dpm.set_defaults(fn=cmd_monitor_dp_counts)

    dph = sub.add_parser(
        "monitor-dp-histogram",
        help="streaming DP histogram release: fold new events into the "
        "batch-keyed per-bucket state, release the clamped value "
        "histogram over the full fixed grid with fresh discrete-Laplace "
        "noise, and account the epsilon budget spent",
    )
    dph.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    dph.add_argument("state_dir", help="batch-keyed bucket partials table")
    dph.add_argument("report_dir", help="current DP release + budget")
    dph.add_argument("--checkpoint", required=True)
    dph.add_argument("--eps-per-release", type=float, default=1.0)
    dph.set_defaults(fn=cmd_monitor_dp_histogram)

    tkr = sub.add_parser(
        "monitor-topk-retrieval",
        help="streaming incremental retrieval: per-batch candidate "
        "top-k partials merged into a snapshot-versioned pool, "
        "re-ranked through the shared greedy MMR algebra",
    )
    tkr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    tkr.add_argument("state_dir", help="batch-keyed candidate partials")
    tkr.add_argument("pool_dir", help="merged top-k pool snapshot")
    tkr.add_argument("report_dir", help="current MMR selection")
    tkr.add_argument("--checkpoint", required=True)
    tkr.set_defaults(fn=cmd_monitor_topk_retrieval)

    sh = sub.add_parser(
        "snapshot-history", help="list a snapshot table's versions"
    )
    sh.add_argument("table_dir")
    sh.set_defaults(fn=cmd_snapshot_history)

    sr = sub.add_parser(
        "snapshot-read", help="read a snapshot table (optionally time travel)"
    )
    sr.add_argument("table_dir")
    sr.add_argument("--version", type=int, default=None)
    sr.add_argument(
        "--as-of",
        type=float,
        default=None,
        dest="as_of",
        help="unix timestamp: newest version committed at or before this",
    )
    sr.add_argument("--out", default=None)
    sr.add_argument("--limit", type=int, default=20)
    sr.set_defaults(fn=cmd_snapshot_read)

    sd = sub.add_parser(
        "snapshot-diff",
        help="CDC between two snapshot versions (insert/delete/update rows)",
    )
    sd.add_argument("table_dir")
    sd.add_argument("from_version", type=int)
    sd.add_argument("to_version", type=int)
    sd.add_argument("--keys", required=True, help="comma-separated key columns")
    sd.add_argument("--out", default=None)
    sd.add_argument("--limit", type=int, default=20)
    sd.set_defaults(fn=cmd_snapshot_diff)

    ms = sub.add_parser(
        "monitor-seasonal",
        help="streaming day-of-week anomaly monitor: fold new events "
        "into the daily state table and refresh the report",
    )
    ms.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ms.add_argument("state_dir", help="batch-keyed daily partials table")
    ms.add_argument("report_dir", help="current anomaly report")
    ms.add_argument("--checkpoint", required=True)
    ms.set_defaults(fn=cmd_monitor_seasonal)

    sm = sub.add_parser(
        "snapshot-merge",
        help="MERGE (upsert) a parquet batch into a snapshot table as a "
        "new time-travelable version",
    )
    sm.add_argument("table_dir")
    sm.add_argument("updates", help="parquet dir of update rows")
    sm.add_argument("--keys", required=True, help="comma-separated key columns")
    sm.add_argument(
        "--order-by", required=True,
        help="comma-separated recency columns (max wins; updates win ties)",
    )
    sm.add_argument("--tag", default=None)
    sm.set_defaults(fn=cmd_snapshot_merge)

    sd = sub.add_parser(
        "snapshot-delete",
        help="targeted merge-on-read DELETE (equality-delete file; "
        "history time-travels; compact folds)",
    )
    sd.add_argument("table_dir")
    sd.add_argument(
        "--where", default=None, help="SQL predicate selecting rows to delete"
    )
    sd.add_argument(
        "--deletes",
        default=None,
        help="parquet dir whose rows/keys form the equality-delete file",
    )
    sd.add_argument("--tag", default=None)
    sd.set_defaults(fn=cmd_snapshot_delete)

    se = sub.add_parser(
        "snapshot-expire",
        help="VACUUM a snapshot table: drop old versions + orphaned "
        "generations past the grace window",
    )
    se.add_argument("table_dir")
    se.add_argument("--keep-last", type=int, default=1)
    se.add_argument(
        "--orphan-grace-sec",
        type=float,
        default=24 * 3600,
        help="only sweep unreferenced gen dirs older than this "
        "(floor 300s: smaller windows could race an in-flight commit)",
    )
    se.set_defaults(fn=cmd_snapshot_expire)

    sc = sub.add_parser(
        "snapshot-compact",
        help="OPTIMIZE a snapshot table: rewrite the head's generations "
        "into one right-sized generation (history still time-travels; "
        "expire reclaims the superseded generations)",
    )
    sc.add_argument("table_dir")
    sc.add_argument(
        "--target-rows-per-file",
        type=int,
        default=1_000_000,
        help="output file sizing: ceil(rows / target) files",
    )
    sc.set_defaults(fn=cmd_snapshot_compact)

    ew = sub.add_parser(
        "export-wds",
        help="export the documents corpus as WebDataset tar shards "
        "(text + json sidecar per sample) — the trainer-facing format",
    )
    ew.add_argument("out")
    ew.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ew.add_argument("--n-shards", type=int, default=8)
    ew.set_defaults(fn=cmd_export_wds)

    sq = sub.add_parser("sql", help="run SQL over the fixture tables")
    sq.add_argument("query")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--out", help="write result parquet here instead of showing")
    sq.add_argument("--limit", type=int, default=20)
    sq.set_defaults(fn=cmd_sql)

    ri = sub.add_parser(
        "retrain-index",
        help="retrain the frozen ANN coarse quantizer in-engine "
        "(spherical k-means) and re-freeze index + fingerprint — run "
        "after a fixture regeneration trips the drift guard",
    )
    ri.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ri.add_argument(
        "--force", action="store_true",
        help="retrain even when the current index is fingerprint-fresh",
    )
    ri.set_defaults(fn=cmd_retrain_index)

    vf = sub.add_parser(
        "verify",
        help="run a query AND its DuckDB oracle on the same parquet "
        "tables and compare values — the correctness gate as a verb",
    )
    vf.add_argument("names", nargs="*", help="query names (see list-queries)")
    vf.add_argument("--all", action="store_true", help="verify every oracle-backed query")
    vf.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    vf.set_defaults(fn=cmd_verify)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
