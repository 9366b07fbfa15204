"""Plan-inspection helpers — the 100 TB posture is TESTED, not assumed.

tests/test_plans.py uses these to assert that filters reach the parquet
scan (PushedFilters), projections prune columns (ReadSchema), and dim
joins broadcast instead of shuffling.  The structural budgets
(:func:`check_plan_budgets`, over one :func:`plan_census` of the
executed plan) run on every gated collect and, through
:func:`checkpoint_inspected`, on every pinned subtree.
"""

from __future__ import annotations

import re
from collections import deque
from collections.abc import Iterator
from itertools import islice
from typing import NamedTuple

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (explain() only prints)."""
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def _walk(root, *, through_reuse: bool = False) -> Iterator:
    """Every node of the physical plan under ``root``, nearest first
    (breadth-first, root first), subquery plans included.

    AQE wrappers hide their real subtree behind accessors, so an
    AdaptiveSparkPlanExec also yields its executedPlan and a query stage
    its plan.  Each node's ``subqueries()`` (scalar and IN subqueries,
    each planned as its own adaptive plan) are followed like children.
    ReusedExchangeExec and ReusedSubqueryExec are leaves, so reused work
    is seen once; ``through_reuse`` follows a ReusedExchangeExec to the
    original exchange it stands for (walking a whole plan that way would
    visit the reused subtree twice)."""
    todo = deque([root])
    while todo:
        node = todo.popleft()
        yield node
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif through_reuse and cls == "ReusedExchangeExec":
            todo.append(node.child())


def _row_metric(node, names: tuple[str, ...] = ("numOutputRows",)):
    """The node's value for the last of ``names`` among its SQL
    metrics, or None when it records none of them."""
    found = None
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in names:
            found = int(kv._2().value())
    return found


# The repo-wide rescan budget: no query may read the same table more
# than this many times in its executed plan.  The honest ceiling is 7
# (ann_ivf_int8_recall's adjudicated 3-leg sq+exact+ivf recall
# pipeline); 8 leaves one scan of headroom without readmitting the
# defect class (a correlation matrix that re-ran its input per column
# pair executed 12 scans of one table).
MAX_EXECUTED_SCANS_PER_TABLE = 8


# Ceiling for rows flowing through an UNPARTITIONED window, asserted on
# every gated collect (mapreducer_spark/oracle.run_spark_gated) and on
# every pin.  Legitimate empty-partition-spec windows in this repo all
# ride collapsed, DOMAIN-bounded frames whose cardinality does not grow
# with the data — a survey of every registered query
# (tools/census_survey.py; records in tools/window_survey_r10.jsonl)
# tops out at 2500 calendar days (open_orders_timeline), ~1.5k tenure
# days, 1225 slope pairs, 998 histogram buckets, all sf-invariant.  A
# data-dimension frame (per-document, per-order, per-customer) under a
# global window is the single-partition defect class (vocab_growth_curve
# pushed one row per document through one task); the 8 sites the survey
# caught (up to 150k rows/task at sf0.1) became two-phase prefix sums.
# 3000 sits just above the calendar domain and below every data
# dimension by sf0.1, where the 10x sweep (tools/sweep.py) re-asserts
# this bound.
UNPARTITIONED_WINDOW_MAX_ROWS = 3000


# Ceiling for rows in a HINT-FORCED BroadcastExchange, asserted on every
# gated collect (mapreducer_spark/oracle.run_spark_gated), on every pin
# and in the 10x sweep (tools/sweep.py).  An explicit
# broadcast()/hint("broadcast") does not degrade when the frame grows —
# at 100 TB it ships the whole frame to every executor and OOMs the
# driver building it — so a hint is only sound on a frame whose
# cardinality is DOMAIN-bounded (nation/region, one-row totals,
# calendars, tier/threshold tables, frozen index literals, sketch
# tables).  Surveys of every registered query at sf0.01 and sf0.1
# (tools/broadcast_survey_r10_hints_*.jsonl) put every such frame at
# <= 2560 rows by sf0.1; 3000 matches UNPARTITIONED_WINDOW_MAX_ROWS and
# sits below every data dimension by sf0.1.  Stats-driven auto
# broadcasts are exempt BY ATTRIBUTION (not by whitelist): Spark's own
# planner stops choosing them when the side outgrows the bytes
# threshold, so a large auto exchange at test scale is self-correcting
# at 100 TB, while a large hinted one is a defect today.
BROADCAST_HINTED_MAX_ROWS = 3000


class PlanCensus(NamedTuple):
    """What the structural budgets read from one executed plan."""

    # FileSourceScanExec nodes per source table: how many times each
    # table is actually read.
    scans: dict[str, int]
    # Input rows of each Window with an EMPTY partition spec, which
    # collapses all of them into one task.
    windows: list[int]
    # Rows of each HINT-FORCED BroadcastExchange.
    hinted: list[int]


def _nearest_rows(window) -> int:
    """Input rows of a Window node.  WindowExec itself records no row
    metric; its sort feeds from a shuffle whose recordsRead IS the
    window input (any filter sits below the exchange and is already
    applied), so take the nearest descendant that counts rows.  -1 when
    none does (never observed), so the budget fails loud."""
    for n in islice(_walk(window), 1, None):
        found = _row_metric(n, ("numOutputRows", "recordsRead"))
        if found is not None:
            return found
    return -1


def _build_hinted(join, build_right: bool) -> bool:
    """Whether a broadcast join's build side was forced by a hint.

    The physical node's ``logicalLink`` is the optimized logical Join,
    which carries the ``JoinHint`` that EliminateResolvedHint folded out
    of ``F.broadcast()`` / ``.hint("broadcast")``; the physical
    ``buildSide`` (``build_right``) says which side's hint counts.  No
    build-side hint means stats/AQE chose the broadcast (exempt — see
    BROADCAST_HINTED_MAX_ROWS).  A missing link, or one that is not a
    Join (never observed), counts as hinted so a gap in attribution
    fails loud instead of exempting a hint."""
    ll = join.logicalLink()
    if not ll.isDefined():
        return True
    lp = ll.get()
    if lp.getClass().getSimpleName() != "Join":
        return True
    hint = lp.hint()
    side = hint.rightHint() if build_right else hint.leftHint()
    if not side.isDefined():
        return False
    strat = side.get().strategy()
    return strat.isDefined() and "broadcast" in strat.get().toString().lower()


def _exchange_rows(build) -> int:
    """Rows of the broadcast exchange on a join's build side, found
    nearest first, possibly behind a QueryStage or a ReusedExchange (a
    leaf wrapper with EMPTY metrics whose stored child, the original
    exchange, carries the real numOutputRows); -1 if no metric is found
    (fail loud upstream)."""
    for n in _walk(build, through_reuse=True):
        if n.getClass().getSimpleName() == "BroadcastExchangeExec":
            found = _row_metric(n)
            return -1 if found is None else found
    return -1


def plan_census(df: DataFrame) -> PlanCensus:
    """One walk over the EXECUTED (post-AQE, post-reuse) plan of ``df``,
    subqueries included, counting what the structural budgets bound.
    The df must already have been executed (e.g. collected); this only
    inspects, never runs.

    Scans are counted in the executed plan because the static plan
    double-counts branches that Spark collapses at runtime through
    ReusedExchange (kmv_set_operations plans 36 scan nodes but executes
    3).  Only WindowExec and its Pandas twin are single-partition
    hazards: WindowGroupLimitExec (rank pushdown) also carries a
    partitionSpec, but its Partial mode runs per input partition, so an
    empty spec there is an optimization, not a collapse."""
    scans: dict[str, int] = {}
    windows: list[int] = []
    hinted: list[int] = []
    for node in _walk(df._jdf.queryExecution().executedPlan()):  # type: ignore[attr-defined]
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            name = node.relation().location().rootPaths().head().getName()
            for suf in (".parquet", ".orc", ".csv", ".json", ".txt"):
                name = name.removesuffix(suf)
            scans[name] = scans.get(name, 0) + 1
        elif cls in ("WindowExec", "WindowInPandasExec"):
            if node.partitionSpec().size() == 0:
                windows.append(_nearest_rows(node))
        elif cls in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            right = "Right" in node.buildSide().toString()
            if _build_hinted(node, right):
                build = node.right() if right else node.left()
                hinted.append(_exchange_rows(build))
    return PlanCensus(scans, windows, hinted)


def check_plan_budgets(df: DataFrame, label: str) -> None:
    """Raise AssertionError when the EXECUTED plan of ``df`` breaks a
    structural budget: a table read more than
    MAX_EXECUTED_SCANS_PER_TABLE times, an unpartitioned Window over
    more than UNPARTITIONED_WINDOW_MAX_ROWS rows, or a hint-forced
    BroadcastExchange over more than BROADCAST_HINTED_MAX_ROWS rows.
    The df must already have been executed; this only inspects.  The
    checks are explicit raises, so they hold under ``python -O``."""
    census = plan_census(df)
    for table, n_scans in census.scans.items():
        if n_scans > MAX_EXECUTED_SCANS_PER_TABLE:
            raise AssertionError(
                f"{label}: executed plan reads table {table!r} "
                f"{n_scans} times (budget {MAX_EXECUTED_SCANS_PER_TABLE}) "
                "— a branch is re-executing its input subtree; pin the "
                "shared frame with checkpoint_inspected or emit branches "
                "via F.stack"
            )
    for n_rows in census.windows:
        if not 0 <= n_rows <= UNPARTITIONED_WINDOW_MAX_ROWS:
            raise AssertionError(
                f"{label}: unpartitioned Window over {n_rows} rows "
                f"(budget {UNPARTITIONED_WINDOW_MAX_ROWS}) — a global "
                "window collapses its whole input into ONE task; use "
                "the two-phase helpers in functions/agg.py"
            )
    for n_rows in census.hinted:
        if not 0 <= n_rows <= BROADCAST_HINTED_MAX_ROWS:
            raise AssertionError(
                f"{label}: hint-forced BroadcastExchange over {n_rows} "
                f"rows (budget {BROADCAST_HINTED_MAX_ROWS}) — an "
                "explicit broadcast() on a frame that grows with the "
                "data OOMs at 100 TB; drop the hint or bound the frame"
            )


def checkpoint_inspected(df: DataFrame, label: str) -> DataFrame:
    """The package's only pin: localCheckpoint(eager=True) that does NOT
    blind the structural budgets.  No other module calls localCheckpoint
    (tests/test_plans.py enforces it), so every pinned subtree passes
    the same check.

    A checkpoint severs lineage, so the gate's per-collect check
    (run_spark_gated) only ever sees the plan segment AFTER the last
    checkpoint — a hinted broadcast, rescan fan-out, or global window
    inside the checkpointed subtree would escape.  This wrapper
    materializes the frame, then runs :func:`check_plan_budgets` on the
    just-executed subtree plan before handing back the severed frame,
    so iterative operators (MMR's greedy rounds, pointer-jumping,
    PageRank's shuffle regime, ...), reuse pins and every memoized frame
    (functions/memo.py) keep the whole pipeline under budget.  ``label``
    names the pin as ``<function>.<frame>`` in any budget error.  The
    inspection is a JVM plan-tree walk over existing metrics and runs
    no job of its own; the pin itself is eager, so it always costs the
    one job that materializes the frame."""
    out = df.localCheckpoint(eager=True)
    check_plan_budgets(df, f"{label} (checkpointed subtree)")
    return out


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan — runs the query.  Under AQE the
    pre-execution plan is just 'AdaptiveSparkPlan isFinalPlan=false';
    codegen spans and runtime join choices only exist after execution."""
    # Execute through the Dataset's own QueryExecution (a write would
    # create a separate one and leave this plan un-finalized).
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
