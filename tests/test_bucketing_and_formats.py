"""Bucketed co-located joins (the 100 TB fact-fact join strategy) and
additional source formats (CSV/JSON round-trips)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducer_spark.plans import formatted_plan
from mapreducer_spark.sources import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    """Write orders + lineitem bucketed by the join key; both sides then
    join WITHOUT any Exchange — pre-shuffled at rest.  At 100 TB this is
    the difference between re-shuffling the fact tables per query and
    paying the shuffle once at ingest."""
    wh = tmp_path_factory.mktemp("warehouse")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(wh / "orders_bucketed"))
        .saveAsTable("orders_bucketed")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(wh / "lineitem_bucketed"))
        .saveAsTable("lineitem_bucketed")
    )
    yield spark.table("orders_bucketed"), spark.table("lineitem_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")


def test_bucketed_join_no_shuffle(spark, bucketed_tables):
    ob, lb = bucketed_tables
    # Force the shuffle-join path (at test scale the planner would just
    # broadcast; at 100 TB neither side broadcasts and bucketing is what
    # removes the Exchange).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = formatted_plan(joined)
        # The join must not introduce Exchange on either side — only the
        # final small aggregation may shuffle.
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Exchange hashpartitioning") <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed_tables):
    ob, lb = bucketed_tables
    bucketed = {
        r.o_orderpriority: r.n
        for r in lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.o_orderpriority: r.n
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert bucketed == plain


def test_parquet_zstd_codec(spark, sf_dir, tmp_path):
    """Column compression choice (the at-rest cost knob at 100 TB)."""
    out = str(tmp_path / "li_zstd")
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    import glob

    files = glob.glob(f"{out}/*.parquet")
    assert files and all(".zstd." in f for f in files), files


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "nation_csv")
    n = load_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in n.collect()}


def test_json_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region_json")
    r = load_table(spark, sf_dir, "region")
    r.write.mode("overwrite").json(out)
    back = spark.read.json(out).select("r_regionkey", "r_name")
    assert {tuple(x) for x in back.collect()} == {tuple(x) for x in r.collect()}


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC source/sink (built into Spark, schema-preserving) — the other
    columnar at-rest format alongside parquet."""
    out = str(tmp_path / "customer_orc")
    c = load_table(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.orc(out)
    assert back.schema == c.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in c.collect()}


def test_wds_shard_roundtrip_and_reproducibility(spark, tmp_path):
    """WebDataset tar-shard I/O: multi-modality samples roundtrip
    exactly through write_wds_shards -> read_wds_shards; shard
    assignment is content-hash deterministic (all of a key's files in
    one shard); and writing the same frame twice yields BYTE-IDENTICAL
    shards (pinned tar headers — what makes shard-level caching/rsync
    of a regenerated dataset work)."""
    import hashlib
    import os

    from mapreducer_spark.sources.wds import read_wds_shards, write_wds_shards
    from tests.conftest import SF_DIR

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(40)
        .select("doc_id", "text")
    )
    # Two modalities per sample: the text payload and a json-ish sidecar.
    base = docs.selectExpr("CAST(doc_id AS STRING) AS key", "text")
    df = base.selectExpr(
        "key", "'txt' AS ext", "CAST(text AS BINARY) AS payload"
    ).unionByName(
        base.selectExpr(
            "key",
            "'json' AS ext",
            "CAST(concat('{\"id\": ', key, '}') AS BINARY) AS payload",
        )
    )

    out1 = str(tmp_path / "shards1")
    man = write_wds_shards(df, out1, n_shards=4).collect()
    assert sum(m.n_samples for m in man) == 40
    assert sum(m.n_files for m in man) == 80
    assert len(man) <= 4

    back = read_wds_shards(spark, os.path.join(out1, "*.tar"))
    got = {(r.key, r.ext): bytes(r.payload) for r in back.collect()}
    want = {(r.key, r.ext): bytes(r.payload) for r in df.collect()}
    assert got == want
    # Sample contiguity: both of a key's files landed in the same shard.
    by_key = {}
    for r in back.collect():
        by_key.setdefault(r.key, set()).add(r.shard)
    assert all(len(s) == 1 for s in by_key.values())

    # Reproducibility: second write is byte-identical per shard.
    out2 = str(tmp_path / "shards2")
    write_wds_shards(df, out2, n_shards=4).collect()
    for m in man:
        h1 = hashlib.sha256(
            open(os.path.join(out1, m.shard), "rb").read()
        ).hexdigest()
        h2 = hashlib.sha256(
            open(os.path.join(out2, m.shard), "rb").read()
        ).hexdigest()
        assert h1 == h2, m.shard


def test_wds_reader_dotless_members_stay_distinct(spark, tmp_path):
    """Foreign-shard edge: tar members WITHOUT a dot in the
    name must each stay their own sample (key=<full name>, ext=''),
    not silently merge under key=''."""
    import os
    import tarfile

    from mapreducer_spark.sources.wds import read_wds_shards

    shard_dir = tmp_path / "foreign"
    shard_dir.mkdir()
    tar_path = str(shard_dir / "foreign-000.tar")
    with tarfile.open(tar_path, "w") as tf:
        for name, body in [
            ("README", b"no extension at all"),
            ("LICENSE", b"also dotless"),
            ("a.txt", b"normal member"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(body)
            import io as _io

            tf.addfile(info, _io.BytesIO(body))

    rows = read_wds_shards(
        spark, os.path.join(str(shard_dir), "*.tar")
    ).collect()
    got = {(r.key, r.ext): bytes(r.payload) for r in rows}
    assert got == {
        ("README", ""): b"no extension at all",
        ("LICENSE", ""): b"also dotless",
        ("a", "txt"): b"normal member",
    }


class _StubScanFrame:
    """Minimal stand-in for a DataFrame whose scan lives on a remote
    filesystem — only the surface _estimated_scan_splits touches."""

    isStreaming = False

    def __init__(self, spark, files):
        self._files = files
        self.sparkSession = spark

    def inputFiles(self):
        return list(self._files)


def test_scan_split_estimate_covers_remote_schemes(spark, monkeypatch):
    """The metadata split estimate must not silently
    fall back to the .rdd planning job for object-storage URIs — the
    Hadoop FileStatus path (mocked here) serves s3a/hdfs sizes."""
    from mapreducer_spark.sources import tables

    sizes = {
        "s3a://bucket/t/part-0.parquet": 200 * (1 << 20),
        "s3a://bucket/t/part-1.parquet": 100 * (1 << 20),
    }
    monkeypatch.setattr(
        tables, "_uri_size", lambda uri, sc: sizes.get(uri)
    )
    df = _StubScanFrame(spark, list(sizes))
    # 300 MB + 2 * 4 MB openCost over 128 MB splits -> 3 splits.
    assert tables._estimated_scan_splits(df) == 3
    # Unstattable remote file -> None (caller falls back to .rdd).
    df_bad = _StubScanFrame(spark, ["s3a://bucket/t/missing.parquet"])
    assert tables._estimated_scan_splits(df_bad) is None


def test_scan_split_estimate_saturates_early(spark, monkeypatch):
    """The file walk stops as soon as the running estimate reaches the
    caller's target — a production scan with thousands of objects stats
    a handful, not all of them."""
    from mapreducer_spark.sources import tables

    calls = []

    def fake_size(uri, sc):
        calls.append(uri)
        return 256 * (1 << 20)  # 2 splits per file

    monkeypatch.setattr(tables, "_uri_size", fake_size)
    df = _StubScanFrame(
        spark, [f"s3a://b/t/part-{i}.parquet" for i in range(1000)]
    )
    est = tables._estimated_scan_splits(df, saturate_at=8)
    assert est is not None and est >= 8
    assert len(calls) <= 8


def test_scan_split_estimate_unparseable_conf_falls_back(spark, monkeypatch):
    """A conf value _size_to_bytes cannot parse must mean
    'fall back to .rdd', never an uncaught ValueError out of fan_out."""
    from mapreducer_spark.sources import tables

    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "128m")
    try:
        monkeypatch.setattr(
            tables, "_size_to_bytes",
            lambda s: (_ for _ in ()).throw(ValueError(s)),
        )
        df = _StubScanFrame(spark, ["file:/tmp/x.parquet"])
        assert tables._estimated_scan_splits(df) is None
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


class _StubFanOutFrame(_StubScanFrame):
    """A stub scan frame whose repartition reports its target."""

    def repartition(self, n):
        return ("repartitioned", n)


def test_python_fan_out_floor(spark, monkeypatch):
    """A scan feeding a Python UDF gets at most one task per
    _PY_UDF_TASK_BYTES of input: returned unchanged below the floor,
    repartitioned above it (capped at defaultParallelism), while the
    JVM fan_out still spreads the same small input to every core."""
    from mapreducer_spark.sources import tables

    floor = tables._PY_UDF_TASK_BYTES
    dp = spark.sparkContext.defaultParallelism
    assert dp > 3
    sizes = {"s3a://b/small/part-0.parquet": floor * 6 // 10}
    sizes.update({f"s3a://b/mid/part-{i}.parquet": floor for i in range(3)})
    sizes.update(
        {f"s3a://b/big/part-{i}.parquet": floor * 2 for i in range(dp)}
    )
    monkeypatch.setattr(tables, "_uri_size", lambda uri, sc: sizes.get(uri))

    def frame(prefix):
        return _StubFanOutFrame(
            spark, [u for u in sizes if u.startswith(f"s3a://b/{prefix}/")]
        )

    small = frame("small")
    assert tables.fan_out_for_python(small) is small
    assert tables.fan_out(small) == ("repartitioned", dp)
    assert tables.fan_out_for_python(frame("mid")) == ("repartitioned", 3)
    assert tables.fan_out_for_python(frame("big")) == ("repartitioned", dp)


def test_local_fan_out_behavior_unchanged(spark, sf_dir):
    """Local file scans keep the split-estimate semantics: a tiny
    single-file fixture reads as 1 split and fans out to cluster
    parallelism."""
    from mapreducer_spark.sources import fan_out, load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = fan_out(li)
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def _write_parquet(path, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))


def test_read_parquet_second_read_runs_no_job(spark, tmp_path, count_jobs):
    """The first read infers the schema from the footer (a Spark job);
    a second read of the unchanged file reuses it and launches none."""
    from mapreducer_spark.sources import read_parquet

    path = tmp_path / "t.parquet"
    _write_parquet(path, {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    first = read_parquet(spark, str(path))
    second, n_jobs = count_jobs(lambda: read_parquet(spark, str(path)))
    assert n_jobs == 0
    assert second.schema == first.schema
    assert sorted(tuple(r) for r in second.collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]


def test_read_parquet_sees_file_rewritten_in_place(spark, tmp_path):
    """A file rewritten with other columns has a new stat, so its new
    schema is inferred instead of the remembered one being reused."""
    from mapreducer_spark.sources import read_parquet

    path = tmp_path / "t.parquet"
    _write_parquet(path, {"a": [1, 2]})
    assert read_parquet(spark, str(path)).columns == ["a"]
    _write_parquet(
        path, {"c": [1.5, 2.5], "d": ["p", "q"], "e": [True, False]}
    )
    df = read_parquet(spark, str(path))
    assert df.columns == ["c", "d", "e"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1.5, "p", True), (2.5, "q", False),
    ]


def test_read_parquet_evicts_other_applications(spark, tmp_path):
    """Like session_memo: an insert drops every entry of another
    application, so a long-lived process keeps no dead session's
    schemas."""
    from pyspark.sql.types import StructType

    from mapreducer_spark.sources import read_parquet, tables

    dead = ("app-dead", str(tmp_path / "old.parquet"), 1, 1)
    tables._SCHEMAS[dead] = StructType([])
    path = tmp_path / "t.parquet"
    _write_parquet(path, {"a": [1]})
    read_parquet(spark, str(path))
    assert dead not in tables._SCHEMAS
    app_id = spark.sparkContext.applicationId
    assert all(k[0] == app_id for k in tables._SCHEMAS)
    assert any(k[1] == str(path) for k in tables._SCHEMAS)
