"""Parquet table sources (SURVEY.md §2.1 S4).

The driver fixtures are one parquet file per table under an sf dir
(TESTDATA.md).  At 100 TB each "table" would be a partitioned parquet
dataset; ``spark.read.parquet`` handles both shapes identically, and
Catalyst pushes filters/column pruning into the scan (verified in
tests/test_plans.py).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25 rows; part/supplier/customer scale with sf but
# stay orders of magnitude below the fact tables).
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) in some fixture
        # generations (Spark rejects it by default; with
        # nanosAsLong it reads as int64) and as TIMESTAMP(MICROS) in
        # others (reads as TIMESTAMP_NTZ).  Normalize both to a plain
        # microsecond TimestampType: nanos are truncated with integer
        # division (a double round-trip would lose precision at ~1.7e18
        # ns; DuckDB's TIMESTAMP_NS -> python datetime conversion
        # truncates identically), NTZ is reinterpreted in the UTC
        # session zone (same wall-clock, matching DuckDB's naive read).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            return df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# (applicationId, path, mtime_ns, size) -> the schema Spark inferred from
# the parquet footer.  Inference is a Spark job on every read; handing
# the remembered schema back with ``.schema(...)`` skips it.  Entries of
# other applications and superseded stats of the same path are evicted
# on insert.  Schemas are table metadata, not derived frames, so
# ``clear_session_caches`` keeps them.
_SCHEMAS: dict[tuple[str, str, int, int], StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    (application, file version).  The key is the top-level stat of
    ``path``, so it suits single files and directories written whole
    (the frozen artifacts); partitioned directories whose leaves change
    under an unchanged top-level stat keep using ``spark.read.parquet``.
    Paths that cannot be stat'ed locally are read plainly."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    app_id = spark.sparkContext.applicationId
    key = (app_id, path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    for stale in [k for k in _SCHEMAS if k[0] != app_id or k[1] == path]:
        del _SCHEMAS[stale]
    _SCHEMAS[key] = df.schema
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a CPU-bound scan UP to cluster parallelism when the
    input arrives in fewer partitions than cores.

    Small parquet fixtures land in a single input split, which serializes
    per-row-heavy operators (tokenization, n-gram scans, hashing) onto one
    core while 31 idle.  At 100 TB the scan already has thousands of
    splits, ``getNumPartitions() >= target`` holds, and this is a no-op —
    so the helper costs nothing at scale and only fixes the small-file
    regime.  The explicit ``repartition(n)`` is deliberately a
    user-specified partition count: AQE's partition coalescing respects it
    and will not merge the tiny shuffle blocks back into one task.

    Streaming frames pass through untouched (``.rdd`` is illegal on them;
    micro-batch parallelism is the source's concern).

    The "already parallel?" decision reads LEAF-FILE SIZES, not
    ``df.rdd``, so deciding costs no Spark job: ``.rdd`` forces
    physical planning and — under AQE — executes upstream broadcast
    stages (measured 0.1-0.5 s plus a driver job PER CALL at build
    time, across ~70 call sites).  The estimate reproduces Spark's own
    split packing (total bytes + one openCost per file, divided by
    maxPartitionBytes); every call site feeds a scan (possibly
    select/filter/broadcast-join on top), so the file list is the
    scan's true input.  Frames with no resolvable files (future
    checkpointed/derived inputs) fall back to the old ``.rdd`` check.

    Scans that feed a Python UDF use :func:`fan_out_for_python`, which
    caps the target by input bytes per task.
    """
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_splits(df, saturate_at=target)
    if est is not None:
        if est >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Input bytes per Python-UDF task.  Each task the floor adds costs CPU
# before its UDF body runs: the fixed cost of a Python task, 0.07-0.09 s
# of process-tree CPU per extra trivial ``pandas_udf`` task on Spark
# 4.1.2 / Python 3.11 under the engine's worker daemon
# (``mapreducer_spark.pyworker``; 0.31 s with the stock daemon, which
# re-reads ``pyspark.zip`` on every task), plus its share of the
# repartition shuffle that splitting a small scan adds, about 0.04 s.
# Measured on sf0.1 ``documents`` (594,568 bytes, one split) at
# ``local[2]``: repartitioning to 2 tasks cost 0.10-0.19 s more CPU
# than the single task, to 4 tasks 0.22-0.29 s more; the token-count
# body costs 0.11-0.17 s on the whole table.  A task earns its cost once
# its body costs as much, so the floor is the input whose body time
# equals that cost (~0.49 MB), and the 0.6 MB table stays one task with
# no shuffle.  Deliberately not a setting: it is a property of the
# worker, not of a deployment.
_PY_TASK_FIXED_S = 0.08
_PY_REPARTITION_S_PER_TASK = 0.04
_PY_BODY_S_PER_BYTE = 0.14 / 594_568
_PY_UDF_TASK_BYTES = round(
    (_PY_TASK_FIXED_S + _PY_REPARTITION_S_PER_TASK) / _PY_BODY_S_PER_BYTE
)


def fan_out_for_python(df: DataFrame) -> DataFrame:
    """:func:`fan_out` for a scan that feeds a Python UDF: at most one
    task per ``_PY_UDF_TASK_BYTES`` of scanned input, so a small input
    is not split into tasks that each pay the fixed Python-worker cost
    for a sliver of UDF work.  The byte count comes from
    ``_scan_walk``, the leaf-file metadata walk behind fan_out's split
    estimate, stopped as soon as the input fills ``defaultParallelism``
    tasks — at 100 TB that is after a handful of files, and fan_out is
    a no-op either way.  Unresolvable inputs keep fan_out's default
    target."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    walked = _scan_walk(
        df, lambda n_files, n_bytes: n_bytes >= target * _PY_UDF_TASK_BYTES
    )
    if walked is not None:
        target = max(1, min(target, walked[1] // _PY_UDF_TASK_BYTES))
    return fan_out(df, target)


def _size_to_bytes(s: str) -> int:
    s = s.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suf):
            mult = m
            s = s[: -len(suf)]
            break
    return int(s) * mult


def _uri_size(uri: str, sc) -> int | None:
    """Length of one leaf file: a local stat for ``file:`` URIs, a
    Hadoop ``FileStatus.getLen`` through the JVM gateway for everything
    else (s3a/hdfs/abfs/...), so the metadata fast path survives the
    100 TB object-storage posture instead of silently resurrecting the
    ``.rdd`` planning job.  The Hadoop FileSystem instance is cached per
    (scheme, authority) by Hadoop itself, so the per-file cost is one
    metadata RPC, bounded further by the caller's saturation
    early-exit.  None = unstattable (caller falls back)."""
    import os
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme in ("", "file"):
        try:
            return os.path.getsize(unquote(p.path))
        except OSError:
            return None
    try:
        jvm = sc._jvm
        path = jvm.org.apache.hadoop.fs.Path(uri)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        return int(fs.getFileStatus(path).getLen())
    except Exception:
        return None


def _estimated_scan_splits(
    df: DataFrame, saturate_at: int | None = None
) -> int | None:
    """ceil((bytes + n_files * openCost) / maxPartitionBytes) over the
    frame's leaf files, from driver-side metadata only.  None when any
    file is unstattable or a conf value is unparseable (caller falls
    back to the .rdd check).  ``saturate_at`` short-circuits the file
    walk once the running estimate reaches it — the caller only needs
    the >= comparison, and the estimate is monotone in the files seen,
    so a thousands-of-files production scan stats a handful of objects.

    Deliberately NOT the full FilePartition formula (which clamps the
    split size to max(openCost, totalBytes/minPartitionNum)): on
    single-row-group files the clamped count says "32 splits" while
    only the row-group-bearing split does work, and overestimating
    parallelism here would skip a repartition that CPU-bound per-row
    operators genuinely need.  bytes/maxPartitionBytes underestimates
    (a lower bound on row-group-bearing splits), so the error direction
    is always a cheap extra repartition of a small input, never a
    serialized scan.  Known caveat: ``inputFiles`` ignores
    partition pruning, so a heavily-pruned partitioned scan can read
    high — every current call site feeds an unpruned leaf scan."""
    try:
        conf = df.sparkSession.conf
        mpb = _size_to_bytes(
            conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        open_cost = _size_to_bytes(
            conf.get("spark.sql.files.openCostInBytes", "4m")
        )
    except Exception:
        return None
    if mpb <= 0:
        return None

    def splits(n_files: int, n_bytes: int) -> int:
        return max(1, -(-(n_bytes + n_files * open_cost) // mpb))

    walked = _scan_walk(
        df,
        None
        if saturate_at is None
        else lambda n_files, n_bytes: splits(n_files, n_bytes) >= saturate_at,
    )
    return None if walked is None else splits(*walked)


def _scan_walk(
    df: DataFrame, stop: Callable[[int, int], bool] | None = None
) -> tuple[int, int] | None:
    """(files seen, bytes seen) over the frame's leaf files, from
    driver-side metadata only, walking until ``stop(files, bytes)``
    holds or the files run out.  None when the frame has no resolvable
    files or any file is unstattable."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sc = df.sparkSession.sparkContext
    total = 0
    for n_seen, uri in enumerate(files, start=1):
        size = _uri_size(uri, sc)
        if size is None:
            return None
        total += size
        if stop is not None and stop(n_seen, total):
            return n_seen, total
    return len(files), total
