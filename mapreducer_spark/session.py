"""SparkSession factory.

One place that owns every config knob so the engine behaves identically in
tests, in the driver's harness, and in bench.py.  Defaults are chosen for
the 100 TB posture (SURVEY.md §7.4.6): AQE on (runtime coalesce + skew-join
splitting), Arrow for any Python exchange, UTC session time zone so
timestamp semantics are engine-independent, and shuffle partitions sized to
the local core count (on a real cluster this would be ~2-3x total cores;
AQE coalesces the excess at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _positive_int_env(name: str, default: int) -> int:
    """``int(os.environ[name])``, or ``default`` when unset; an empty,
    non-integer or non-positive value raises a ValueError naming
    ``name``."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


DEFAULT_SHUFFLE_PARTITIONS = _positive_int_env("SPARK_GRAFT_CPUS", 32)

# The package's parent directory: a worker daemon started before any file
# ships finds mapreducer_spark.pyworker there.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory_for(master: str | None) -> str | None:
    """Heap for a LOCAL-mode session, sized to its task-slot count:
    512 MB per slot, floor 2 GiB (``SPARK_GRAFT_DRIVER_MEM`` overrides).
    ``local[N,F]`` reads N; ``local[*]`` and ``local[*,F]`` read the CPU
    count.  None for non-local / externally-supplied masters and for
    ``local-cluster[...]`` — a real cluster sizes its own executors and
    the harness supplies its own session."""
    if master is None or not master.startswith("local"):
        return None
    if master.startswith("local-cluster"):
        # Separate executor JVMs with their own heaps: not slot-sized.
        return None
    # local[N,maxFailures]: the slot count is the first field.
    n = (
        master[master.find("[") + 1 : master.find("]")].split(",")[0].strip()
        if "[" in master
        else "1"
    )
    if n == "*":
        slots = os.cpu_count() or 1
    else:
        try:
            slots = max(1, int(n))
        except ValueError:
            slots = 1
    return os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(2, (slots + 1) // 2)}g"
    )


def python_daemon_conf(master: str | None) -> dict[str, str]:
    """Confs that run Python workers under :mod:`mapreducer_spark.pyworker`,
    which skips the per-task re-read of unchanged zip archives.  Only for
    masters whose executors share this driver's filesystem (``local``,
    ``local[...]``, ``local-cluster[...]``): the daemon starts before any
    file ships, so it is found through ``spark.executorEnv.PYTHONPATH``,
    which Spark appends after ``pyspark.zip``.  Empty for ``master=None``
    (a session supplied from outside) and remote masters, which keep the
    stock daemon."""
    if master is None or not (
        master == "local" or master.startswith(("local[", "local-cluster["))
    ):
        return {}
    return {
        "spark.python.daemon.module": "mapreducer_spark.pyworker",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
    }


def get_spark(
    app_name: str = "mapreducer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` leaves the master to the environment (the driver
    harness supplies its own session; bench/tests pass ``local[N]``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)

    # Heap sized to the task-slot count: every concurrent task's
    # partial-aggregate hash map plus the 2000-entry codegen class cache
    # (below) must fit in the driver heap.  Local mode defaults to
    # -Xmx1g, about 32 MB per slot at local[32], where a hash aggregate
    # feeding TakeOrderedAndProject has died of it while 8 slots ran
    # clean.  512 MB per slot, floor 2 GiB, derived from the master's
    # core count so a low-core session sizes itself proportionally; a
    # real cluster supplies its own executor memory (master=None leaves
    # the session untouched).  Override: SPARK_GRAFT_DRIVER_MEM.  1g vs
    # 8g on the heavy tail measured no wall-clock change: this buys
    # survival headroom, not speed, so the bench stays comparable.
    driver_mem = driver_memory_for(master)

    conf: dict[str, str] = {
        # Adaptive execution: runtime partition coalescing and skew-join
        # splitting replace the reference's per-distinct-key round-robin
        # balancing (SURVEY.md §4.3) with something that actually works
        # under skew at scale.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # All Python<->JVM data movement is Arrow-batched.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamp semantics for the DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Columnar parquet IO with pushdown (verified in tests/test_plans.py).
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # The generated-class cache defaults to 100 entries; a 100+-query
        # workload (this engine ships 129) evicts and recompiles every
        # stage late in a run — measured 2-4x inflation on late queries
        # (token_count_pandas_udf 2.1s isolated vs 5.2s in a full bench).
        # Driver-side memory cost is a few hundred MB of compiled classes.
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
    if driver_mem is not None:
        # Only effective before the JVM launches (PySpark passes builder
        # confs to spark-submit at gateway start); a pre-existing
        # session ignores it, which is exactly the harness contract.
        conf["spark.driver.memory"] = driver_mem
    conf.update(python_daemon_conf(master))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
