"""Benchmark of the mapreducer_spark engine: one workload per run.

    python3 perfbench/run.py --cores 2 --workload build_bound --seed 1 \\
        --seconds 10 --trace 0

Load is a closed loop: one client runs one query at a time on a
``local[<cores>]`` session.  A pass runs every query of the workload
once, in an order drawn from ``--seed``; each query is measured as
``fn()`` plus a noop-sink execution, in wall seconds and in the CPU
seconds of this process and every process below it (the driver JVM and
the Python-UDF workers).  After the untimed warm-up passes, passes
repeat until ``--seconds`` have been measured.  Results of the first
warm-up pass are checked against each query's DuckDB oracle after the
timed region.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are end to end; with ``--trace 1`` they are per layer, taken from
traced passes that alternate with untraced ones (see tracing.py).  Details
(per-pass and per-query wall and CPU seconds) go to stderr as one JSON
line.
"""

from __future__ import annotations

import os
import sys
import time

PROCESS_START = time.perf_counter()

# String hashing is randomized per process, which reorders set and dict
# iteration while plans are built; with it the cold first pass of one
# workload ranged 12.9-19.0 s across processes, with a fixed seed
# 16.3-16.9 s.  Re-run this script once with the seed fixed.
if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable, *sys.argv])

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, Workload  # noqa: E402

# Untimed passes before timing starts.  The first pass of a fresh JVM
# uses about 3x the CPU of later ones.  CPU per pass keeps falling for
# several passes after it, but one more warm-up pass did not make runs
# agree more closely, and every pass counts against the benchmark's run
# budget (README.md, Warm-up), so timing starts at the second pass.
WARMUP_PASSES = 1

# At least this many timed (untraced) passes, however long they take, so
# that pass_cpu_s, a median over passes, is one pass's own figure rather
# than the mean of two.
MIN_TIMED_PASSES = 3

# Per-layer metrics measured once per run, not per traced pass.
RUN_LEVEL = (
    "session.get_spark_s",
    "driver.peak_rss_mb",
    "functions.frozen.fallbacks",
    "trace.overhead_frac",
)

# Count metrics of a traced pass that must repeat exactly across passes.
EXACT_COUNTS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "operators.build_jobs",
    "spark.local_checkpoints",
    "sources.fan_out_calls",
    "sources.fan_out_repartitions",
    "functions.memo.builds",
    "functions.frozen.serves",
)
# The subset of EXACT_COUNTS the tracer's wrappers count.
TRACER_COUNTS = (
    "spark.local_checkpoints",
    "sources.fan_out_calls",
    "sources.fan_out_repartitions",
    "functions.memo.builds",
    "functions.frozen.serves",
)

END_TO_END_UNITS = {
    "pass_cpu_s": "s",
    "setup_s": "s",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "driver.peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "operators.exec_s": "s",
    "spark.local_checkpoints": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.slot_busy_frac": "fraction",
    "spark.jvm_gc_s": "s",
    "sources.fan_out_calls": "count",
    "sources.fan_out_repartitions": "count",
    "python_udfs.worker_start_s": "s",
    "python_udfs.worker_init_s": "s",
    "python_udfs.worker_run_s": "s",
    "python_udfs.bytes_sent_mb": "MB",
    "functions.memo.builds": "count",
    "functions.memo.build_s": "s",
    "functions.frozen.serves": "count",
    "functions.frozen.fallbacks": "count",
    "trace.overhead_frac": "fraction",
}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    every live process below it (the driver JVM, the Python-UDF daemon
    and its workers), including children they have already reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads.  Exact
    only while no compiler thread exits, hence the JVM option
    -XX:-UseDynamicNumberOfCompilerThreads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended while its task list was read
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / CLK_TCK


WORK = ROOT / ".perfbench_work"

# Options of the driver JVM.  No compiler thread may exit, so that
# jit_cpu_s stays exact.
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def prepare_checkout_dirs() -> None:
    """Keep Spark's scratch files and the JVM's and Python's temp files
    inside the checkout, and make the engine importable from it.  Must
    run before the JVM starts."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    tempfile.tempdir = str(WORK / "tmp")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


@dataclasses.dataclass
class PassResult:
    """Wall and CPU seconds of one pass and of each query in it."""

    wall: float = 0.0
    cpu: float = 0.0
    query_wall: dict[str, float] = dataclasses.field(default_factory=dict)
    query_cpu: dict[str, float] = dataclasses.field(default_factory=dict)


class Session:
    """One process's engine session and the passes run on it."""

    def __init__(self, workload: Workload, seed: int, cores: int, tracer, trace: bool) -> None:
        from mapreducer_spark.functions.memo import clear_session_caches
        from mapreducer_spark.registry import all_queries
        from mapreducer_spark.session import get_spark
        from mapreducer_spark.sources import TABLES, load_table

        self.workload = workload
        self.sf_dir = str(HERE / "data" / workload.fixture)
        if not os.path.isfile(os.path.join(self.sf_dir, "lineitem.parquet")):
            raise SystemExit(f"fixture missing: {self.sf_dir}")
        registry = all_queries()
        self.queries = {q: registry[q] for q in workload.queries}
        self.clear = clear_session_caches
        self.rng = random.Random(seed)
        self.cores = cores
        self.tracer = tracer
        self.attempted = 0
        self.errors: list[str] = []
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

        with tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{workload.name}",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
                extra_conf={
                    "spark.sql.warehouse.dir": str(WORK / "warehouse"),
                    # Keeps stderr's detail line on a line of its own.
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={WORK / 'tmp'} {JVM_OPTIONS}"
                    ),
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        if trace:
            tracer.install(self.spark)
        with tracer.span("sources.register"):
            for t in TABLES:
                load_table(self.spark, self.sf_dir, t)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and every process
        below it, less the JVM's JIT compiler threads.  Compilation is
        warm-up work: it still took a quarter of a build_bound pass's CPU
        at the fifth pass and varied from pass to pass (README.md)."""
        return tree_cpu_s(os.getpid()) - jit_cpu_s(self.jvm_pid)

    def run_pass(self, tag: str | None = None, warmup: bool = False, collect: bool = False):
        """One pass over the workload's queries, in a seeded order unless
        it is a warm-up pass, which keeps the listed order so that every
        run's set-up does the same work.  Returns a PassResult.  ``tag`` labels each query's jobs
        ``<tag>|<query>|build`` and ``...|exec``."""
        sc = self.spark.sparkContext
        order = list(self.queries)
        if not warmup:
            self.rng.shuffle(order)
        res = PassResult()
        t_pass, c_pass = time.perf_counter(), self.cpu_s()
        for name in order:
            self.clear()
            self.attempted += 1
            c0 = self.cpu_s()
            t0 = time.perf_counter()
            try:
                with self.tracer.traced("query", query=name):
                    if tag is not None:
                        sc.setJobGroup(f"{tag}|{name}|build", name)
                    with self.tracer.traced("operators.build"):
                        df = self.queries[name].fn(self.spark, self.sf_dir)
                    if tag is not None:
                        sc.setJobGroup(f"{tag}|{name}|exec", name)
                    with self.tracer.traced("operators.exec"):
                        if collect:
                            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query is counted, not fatal
                self.errors.append(f"{name}: {type(e).__name__}: {e}")
                continue
            finally:
                if tag is not None:
                    sc.setJobGroup("untraced", "untraced")
            res.query_wall[name] = time.perf_counter() - t0
            res.query_cpu[name] = self.cpu_s() - c0
            # Drop the frame and break reference cycles now, so Spark's
            # ContextCleaner frees its checkpoint blocks before the next
            # query rather than at a point that varies run to run.
            del df
            gc.collect()
        res.wall = time.perf_counter() - t_pass
        res.cpu = self.cpu_s() - c_pass
        return res

    def check(self) -> list[str]:
        """Compare each collected result with its DuckDB oracle under the
        repository's correctness gate: sorted column names, row count and
        the hash of the type-tagged, order-insensitive normal form."""
        from mapreducer_spark.oracle import duck_connection, result_digest, run_duck

        con = duck_connection(self.sf_dir)
        try:
            mismatched = []
            for name, (cols, rows) in sorted(self.results.items()):
                try:
                    oracle = result_digest(*run_duck(con, self.queries[name].oracle))
                except AssertionError as e:  # the gate refuses the oracle's types
                    mismatched.append(f"{name}: {e}")
                    continue
                if result_digest(cols, rows) != oracle:
                    mismatched.append(name)
            return mismatched
        finally:
            con.close()


def pass_layers(sess: Session, tag: str, span0: int, counts0, gc0: float) -> dict:
    """Per-layer figures of one traced pass."""
    tr = sess.tracer
    spans = tr.spans[span0:]
    by_id = {s["id"]: s for s in tr.spans}

    def dur(s):
        return s["end"] - s["start"]

    def under_memo(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == "functions.memo":
                return True
            p = by_id[p]["parent"]
        return False

    out = tr.spark_pass(tag)
    build_s = sum(dur(s) for s in spans if s["name"] == "operators.build")
    exec_s = sum(dur(s) for s in spans if s["name"] == "operators.exec")
    memo = [s for s in spans if s["name"] == "functions.memo" and not under_memo(s)]
    counts = tr.counts - counts0
    out.update({
        "operators.build_s": build_s,
        "operators.build_self_s": max(0.0, build_s - out.pop("_build_job_s")),
        "operators.exec_s": exec_s,
        "spark.slot_busy_frac": out.pop("_exec_run_s") / (exec_s * sess.cores),
        "spark.jvm_gc_s": tr.jvm_gc_s() - gc0,
        "functions.memo.build_s": sum(dur(s) for s in memo if not s["attrs"]["hit"]),
    })
    for name in TRACER_COUNTS:
        out[name] = counts.get(name, 0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True, help="k of local[k]")
    ap.add_argument("--fixture", help="override the workload's fixture (smoke tests)")
    args = ap.parse_args(argv)
    if args.seconds <= 0 or args.cores < 1:
        ap.error("--seconds must be > 0 and --cores >= 1")
    workload = WORKLOADS[args.workload]
    if args.fixture:
        workload = dataclasses.replace(workload, fixture=args.fixture)

    prepare_checkout_dirs()

    from tracing import StaleWarnings, Tracer

    tracer = Tracer()
    with StaleWarnings() as stale:
        sess = Session(workload, args.seed, args.cores, tracer, bool(args.trace))
        try:
            return measure(sess, args, stale)
        finally:
            shut_down(sess.spark)


def shut_down(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its
    stdin closes, taking its Python workers with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(sess: Session, args, stale) -> int:
    tracer = sess.tracer
    warmup = [sess.run_pass(warmup=True, collect=(i == 0)) for i in range(WARMUP_PASSES)]

    setup_wall_s = time.perf_counter() - PROCESS_START
    setup_cpu_s = sess.cpu_s()
    timed: list[PassResult] = []
    traced: list[dict] = []
    traced_walls: list[float] = []
    t_timed = time.perf_counter()
    i = 0
    while (
        len(timed) < MIN_TIMED_PASSES
        or time.perf_counter() - t_timed < args.seconds
        or (args.trace and len(traced) < 2)
    ):
        trace_this = bool(args.trace) and i % 2 == 1
        if trace_this:
            tag = f"p{i}"
            span0, counts0, gc0 = len(tracer.spans), tracer.counts.copy(), tracer.jvm_gc_s()
            tracer.active = True
            traced_walls.append(sess.run_pass(tag=tag).wall)
            tracer.active = False
            traced.append(pass_layers(sess, tag, span0, counts0, gc0))
        else:
            timed.append(sess.run_pass())
        i += 1

    peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(sess.jvm_pid)
    mismatched = sess.check()
    failed = len(sess.errors) + len(mismatched)
    fallbacks = len(stale.messages)
    correct = failed == 0 and fallbacks == 0

    walls = [p.wall for p in timed]
    detail = {
        "workload": sess.workload.name,
        "fixture": sess.workload.fixture,
        "seed": args.seed,
        "cores": sess.cores,
        "setup_spans": {
            s["name"]: s["end"] - s["start"]
            for s in tracer.spans
            if s["name"] in ("session.get_spark", "sources.register")
        },
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "warmup_walls": [p.wall for p in warmup],
        "warmup_cpus": [p.cpu for p in warmup],
        "warmup_query_wall": [p.query_wall for p in warmup],
        "warmup_query_cpu": [p.query_cpu for p in warmup],
        "walls": walls,
        "cpus": [p.cpu for p in timed],
        "per_query_wall": {q: [p.query_wall[q] for p in timed if q in p.query_wall] for q in sess.queries},
        "per_query_cpu": {q: [p.query_cpu[q] for p in timed if q in p.query_cpu] for q in sess.queries},
        "errors": sess.errors,
        "mismatched": mismatched,
        "stale_fallbacks": stale.messages,
        "peak_rss_mb": peak_rss_mb,
    }
    if args.trace:
        nonrepeating = {
            k: [p[k] for p in traced]
            for k in EXACT_COUNTS
            if len({p[k] for p in traced}) > 1
        }
        correct = correct and not nonrepeating
        metrics = {
            k: statistics.median(p[k] for p in traced) for k in PER_LAYER_UNITS
            if k not in RUN_LEVEL
        }
        metrics["driver.peak_rss_mb"] = peak_rss_mb
        metrics["functions.frozen.fallbacks"] = fallbacks
        metrics["session.get_spark_s"] = next(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark"
        )
        metrics["trace.overhead_frac"] = (
            statistics.median(traced_walls) / statistics.median(walls) - 1
        )
        detail["traced_passes"] = traced
        detail["nonrepeating_counts"] = nonrepeating
        tracer.write(str(WORK / f"trace_{sess.workload.name}_seed{args.seed}.json"))
        units = PER_LAYER_UNITS
    else:
        # CPU seconds, not wall: on a host whose vCPUs are shared, time
        # stolen by other tenants moved whole runs' walls by up to 1.7x,
        # far more than the CPU the same work used (README.md, Steadiness).
        metrics = {
            "pass_cpu_s": statistics.median(p.cpu for p in timed),
            "setup_s": setup_cpu_s,
        }
        units = END_TO_END_UNITS
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": sess.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
