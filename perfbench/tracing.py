"""Outside-in tracing of the engine's layers.

Everything here observes the engine from the benchmark's side: the
public engine functions named below are wrapped where every engine
module binds them, and Spark's own work is read back from the
application's monitoring REST API (``sc.uiWebUrl`` +
``/api/v1/applications/<id>/{jobs,stages,sql}``).  Spans are kept in
memory and written out once, when the run ends.

Layer boundaries recorded as spans or counts:

- ``session.get_spark``               span around session creation
- ``operators.build`` / ``.exec``     ``fn()`` and its noop-sink execution
- ``functions.memo``                  ``session_memo`` and
                                      ``graph.copurchase_sym_edges``
                                      (hit or build)
- ``functions.frozen``                ``frozen_or_build_info`` (serve or
                                      live build); stale-artifact
                                      fallbacks come from ``StaleWarnings``
- ``sources.fan_out``                 calls, and whether the frame changed
- ``spark.local_checkpoints``         ``DataFrame.localCheckpoint`` calls
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import sys
import time
import urllib.request
import warnings
import weakref
from collections import Counter

# Engine functions wrapped by the tracer: (module, attribute).
_WRAPPED = (
    ("mapreducer_spark.functions.memo", "session_memo"),
    ("mapreducer_spark.operators.graph", "copurchase_sym_edges"),
    ("mapreducer_spark.functions.frozen", "frozen_or_build_info"),
    ("mapreducer_spark.sources.tables", "fan_out"),
)

# Spark SQL metrics of the Python-UDF exec nodes (ArrowEvalPython,
# BatchEvalPython, FlatMapGroupsInPandas, ...), by per-layer metric name.
_PYTHON_SQL_METRICS = {
    "time to start Python workers": "python_udfs.worker_start_s",
    "time to initialize Python workers": "python_udfs.worker_init_s",
    "time to run Python workers": "python_udfs.worker_run_s",
    "data sent to Python workers": "python_udfs.bytes_sent_mb",
}
_UNIT_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_TOTAL_RE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]+)", re.M)


class StaleWarnings:
    """Counts the stale-artifact ``RuntimeWarning``s that
    ``functions/frozen.py`` emits when it falls back to a live build.
    Every occurrence is counted, not only the first per call site."""

    def __init__(self) -> None:
        self.messages: list[str] = []
        self._previous = None

    def __enter__(self) -> StaleWarnings:
        self._catch = warnings.catch_warnings()
        self._catch.__enter__()
        warnings.simplefilter("always", RuntimeWarning)
        self._previous = warnings.showwarning

        def show(message, category, filename, lineno, file=None, line=None):
            text = str(message)
            if issubclass(category, RuntimeWarning) and "frozen artifact" in text:
                self.messages.append(text)
            self._previous(message, category, filename, lineno, file, line)

        warnings.showwarning = show
        return self

    def __exit__(self, *exc) -> None:
        self._catch.__exit__(*exc)


def _spark_time(s: str) -> float:
    """Epoch seconds of a REST timestamp such as 2026-01-01T00:00:00.123GMT."""
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _sql_total(value: str) -> float:
    """The total of a Spark SQL metric string, in seconds or MiB.

    Values read like ``total (min, med, max (stageId: taskId))\\n8.7 s
    (2.1 s, ...)``; the first number after the header is the total."""
    body = value.split("\n", 1)[-1]
    m = _TOTAL_RE.search(body)
    if m is None or m.group(2) not in _UNIT_SCALE:
        raise ValueError(f"unparsed SQL metric value {value!r}")
    return float(m.group(1)) * _UNIT_SCALE[m.group(2)]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Spans and counters for one run.  ``active`` switches recording on
    and off, so one process can alternate traced and untraced passes."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._epoch0 = time.time() - time.perf_counter()
        self._sym_frames: weakref.WeakSet = weakref.WeakSet()
        self._spark = None

    # ---- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": self._epoch0 + time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self._epoch0 + time.perf_counter()

    def traced(self, name: str, **attrs):
        """A span while tracing is active, else a no-op context."""
        return self.span(name, **attrs) if self.active else contextlib.nullcontext({"attrs": {}})

    # ---- wrappers ----------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the engine functions in ``_WRAPPED`` in every loaded
        engine module that binds them, and ``DataFrame.localCheckpoint``."""
        self._spark = spark
        wrappers = {
            "session_memo": self._wrap_memo,
            "copurchase_sym_edges": self._wrap_sym_edges,
            "frozen_or_build_info": self._wrap_frozen,
            "fan_out": self._wrap_fan_out,
        }
        for mod_name, attr in _WRAPPED:
            original = getattr(sys.modules[mod_name], attr)
            wrapper = wrappers[attr](original)
            for name, mod in list(sys.modules.items()):
                if name.startswith("mapreducer_spark") and mod is not None:
                    if getattr(mod, attr, None) is original:
                        setattr(mod, attr, wrapper)
        frame_cls = type(spark.range(0))
        original_cp = frame_cls.localCheckpoint
        tracer = self

        def local_checkpoint(df, *args, **kwargs):
            if tracer.active:
                tracer.counts["spark.local_checkpoints"] += 1
            return original_cp(df, *args, **kwargs)

        frame_cls.localCheckpoint = local_checkpoint

    def _wrap_memo(self, original):
        def session_memo(spark, key, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            with self.traced("functions.memo", key=repr(key)) as rec:
                df = original(spark, key, counted_build)
                rec["attrs"]["hit"] = not built
            if self.active and built:
                self.counts["functions.memo.builds"] += 1
            return df

        return session_memo

    def _wrap_sym_edges(self, original):
        def copurchase_sym_edges(spark, sf_dir):
            with self.traced("functions.memo", key="copurchase_sym_edges") as rec:
                df = original(spark, sf_dir)
                hit = df in self._sym_frames
                rec["attrs"]["hit"] = hit
            self._sym_frames.add(df)
            if self.active and not hit:
                self.counts["functions.memo.builds"] += 1
            return df

        return copurchase_sym_edges

    def _wrap_frozen(self, original):
        def frozen_or_build_info(spark, sf_dir, spec):
            with self.traced("functions.frozen", artifact=spec.name) as rec:
                df, token = original(spark, sf_dir, spec)
                rec["attrs"]["served"] = token is not None
            if self.active:
                self.counts["functions.frozen.serves" if token is not None else "functions.frozen.live_builds"] += 1
            return df, token

        return frozen_or_build_info

    def _wrap_fan_out(self, original):
        def fan_out(df, min_partitions=None):
            out = original(df, min_partitions)
            if self.active:
                self.counts["sources.fan_out_calls"] += 1
                self.counts["sources.fan_out_repartitions"] += out is not df
            return out

        return fan_out

    # ---- Spark, read from outside ------------------------------------
    def _rest(self, path: str):
        sc = self._spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def jvm_gc_s(self) -> float:
        beans = self._spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def spark_pass(self, tag: str) -> dict[str, float]:
        """Spark-side figures for the jobs whose group starts with ``tag``:
        one traced pass.  Waits for the listener bus so the status store
        has every finished job, stage and SQL execution."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._rest("jobs") if (j.get("jobGroup") or "").startswith(tag + "|")]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        exec_stage_ids = {s for j in jobs if j["jobGroup"].endswith("|exec") for s in j["stageIds"]}
        stages = [
            s for s in self._rest("stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        out = {
            "spark.jobs": len(jobs),
            "operators.build_jobs": sum(j["jobGroup"].endswith("|build") for j in jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 2**20,
        }
        exec_run_s = sum(
            s["executorRunTime"] for s in stages if s["stageId"] in exec_stage_ids
        ) / 1e3
        build_job_spans = [
            (_spark_time(j["submissionTime"]), _spark_time(j["completionTime"]))
            for j in jobs
            if j["jobGroup"].endswith("|build") and j.get("completionTime")
        ]
        out["_build_job_s"] = _union_s(build_job_spans)
        out["_exec_run_s"] = exec_run_s
        for name in _PYTHON_SQL_METRICS.values():
            out[name] = 0.0
        for e in self._rest("sql?details=true&planDescription=false&offset=0&length=1000000"):
            if not job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    name = _PYTHON_SQL_METRICS.get(m["name"])
                    if name is not None:
                        out[name] += _sql_total(m["value"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
