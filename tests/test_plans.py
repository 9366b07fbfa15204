"""Plan-shape guards (SURVEY.md §7.4.6): the 100 TB posture is asserted,
not assumed.  If a filter stops reaching the parquet scan or a dim join
stops broadcasting, these fail before any perf regression ships."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducer_spark.operators.relational import (
    nation_revenue,
    pricing_summary,
    top_revenue_orders,
)
from mapreducer_spark.operators.wordcount import word_count_df
from mapreducer_spark.plans import (
    formatted_plan,
    has_broadcast_hash_join,
    pushed_filters,
)
from mapreducer_spark.sources import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = pricing_summary(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_column_pruning(spark, sf_dir):
    df = word_count_df(spark, sf_dir)
    plan = formatted_plan(df)
    # The documents scan must read ONLY the text column.
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema
    assert "doc_id" not in read_schema and "lang" not in read_schema, read_schema


def test_dim_joins_broadcast(spark, sf_dir):
    assert has_broadcast_hash_join(nation_revenue(spark, sf_dir))
    assert has_broadcast_hash_join(top_revenue_orders(spark, sf_dir))


def test_wholestage_codegen_covers_agg(spark, sf_dir):
    from mapreducer_spark.plans.inspect import executed_plan

    plan = executed_plan(word_count_df(spark, sf_dir))
    # '*(n)' prefixes mark whole-stage-codegen spans in the simple plan
    # string; both the scan->partial-agg stage and the final-agg stage
    # must be codegen'd.
    assert "isFinalPlan=true" in plan
    assert "*(1)" in plan and "*(2)" in plan, plan


def test_partition_filter_predicate_stays_rowlocal(spark, sf_dir):
    # hash sampling must be a plain Filter over the scan (no shuffle).
    from mapreducer_spark.operators.reshape import hash_sampled_orders

    plan = formatted_plan(hash_sampled_orders(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of join must shuffle exactly once (on the key)
    — its whole advantage over a range join (SURVEY.md §2.5 O3)."""
    from mapreducer_spark.operators.asof import events_asof_latest_order

    plan = formatted_plan(events_asof_latest_order(spark, sf_dir))
    # one Exchange for the window partitionBy; the orders-side
    # pre-dedup groupBy reuses the same hash partitioning where possible
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan


def test_join_strategy_hints_respected(spark, sf_dir):
    """The engine exposes Spark's full join-strategy control: hints must
    change the physical join (broadcast vs shuffle-merge vs shuffle-hash)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cond = o.o_custkey == c.c_custkey

    assert "BroadcastHashJoin" in formatted_plan(o.join(c.hint("broadcast"), cond))
    assert "SortMergeJoin" in formatted_plan(o.join(c.hint("merge"), cond))
    assert "ShuffledHashJoin" in formatted_plan(
        o.join(c.hint("shuffle_hash"), cond)
    )


def test_topk_uses_take_ordered(spark, sf_dir):
    from mapreducer_spark.operators.wordcount import word_count_topk

    plan = formatted_plan(word_count_topk(spark, sf_dir))
    # orderBy+limit must compile to TakeOrderedAndProject, not a global Sort.
    assert "TakeOrderedAndProject" in plan, plan


def test_band_join_broadcasts_tiers(spark, sf_dir):
    """A 3-row range-predicate dim must plan as BroadcastNestedLoopJoin —
    the fact side must NOT shuffle for the join."""
    from mapreducer_spark.operators.reshape import event_value_band_join

    plan = formatted_plan(event_value_band_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_returned_items_pushdown_and_broadcast(spark, sf_dir):
    """Q10 shape: the returnflag filter reaches the lineitem scan, the
    date filter reaches the orders scan, and the dim joins broadcast."""
    from mapreducer_spark.operators.tpch_more import returned_items_topn

    df = returned_items_topn(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_returnflag" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed
    assert has_broadcast_hash_join(df)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_market_share_single_fact_shuffle(spark, sf_dir):
    """Q8 shape: with every dim broadcast, the only hash-shuffles are the
    lineitem-orders fact join and the final year aggregation."""
    from mapreducer_spark.operators.tpch_more import nation_market_share

    plan = formatted_plan(nation_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan


def test_anti_join_checks_broadcast(spark, sf_dir):
    """Referential-integrity orphan checks: dim-side anti joins broadcast."""
    from mapreducer_spark.operators.profiling import (
        referential_integrity_checks,
    )

    plan = formatted_plan(referential_integrity_checks(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_runtime_bloom_filter_reduces_fact_scan(spark, sf_dir):
    """The 100 TB semi-join-reduction pattern: when a selective dim
    filter feeds a shuffle join, Spark's InjectRuntimeFilter builds a
    bloom filter from the dim side and applies it to the fact side
    BEFORE the shuffle.  Production size thresholds (10 GB application
    side) can't trigger on fixture data, so pin them down here and
    assert the capability: the optimized plan must carry the
    bloom-filter might_contain probe on the lineitem branch."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # Force a shuffle join: runtime filters only help non-broadcast
        # joins (a broadcast build already prunes at the probe).
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan
        assert j.count() == 1  # and the filtered join still runs
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_blocked_profile_similarity_no_all_pairs(spark, sf_dir):
    """The scale path for profile similarity must NOT contain an
    all-pairs join of two non-broadcast relations: the candidate stage
    is an equi-join on the LSH bucket, so the plan may use broadcast /
    shuffle-hash / sort-merge joins but never a CartesianProduct (the
    exact twin user_activity_similarity is allowed its broadcast NL —
    that one is the small-scale oracle reference).  Also floor-assert
    recall vs the exact twin so the blocking stays useful."""
    from mapreducer_spark.operators.events_time import (
        user_activity_similarity,
        user_activity_similarity_blocked,
    )

    blocked = user_activity_similarity_blocked(spark, sf_dir)
    plan = formatted_plan(blocked)
    assert "CartesianProduct" not in plan, plan
    exact = {
        (r.user_a, r.user_b)
        for r in user_activity_similarity(spark, sf_dir).collect()
    }
    got = {(r.user_a, r.user_b) for r in blocked.collect()}
    # Noise-dominated fixture profiles (mean pairwise cosine ~0.75) cap
    # what ANY blocking can recover; measured 0.54 at sf0.01 with
    # Hamming<=1 multiprobe — deterministic, floored with margin.
    assert len(exact & got) / len(exact) >= 0.4


# ----- round-5 operators: plan-shape guards -------------------------------


def test_cms_probe_join_broadcasts(spark, sf_dir):
    from mapreducer_spark.operators.sketches import cms_heavy_hitters

    df = cms_heavy_hitters(spark, sf_dir)
    # The 256-cell grid and the 4-row hash-row frame must broadcast; a
    # shuffle join against a constant-size sketch would be a plan bug.
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_pq_codebook_join_broadcasts(spark, sf_dir):
    from mapreducer_spark.operators.similarity import (
        ann_pq_adc_topk,
        embedding_pq_codes,
    )

    for df in (embedding_pq_codes(spark, sf_dir), ann_pq_adc_topk(spark, sf_dir)):
        # 128-row codebook / 640-row LUT ride as broadcasts over the
        # exploded vector stream.
        assert has_broadcast_hash_join(df), formatted_plan(df)[:500]


def test_weighted_sample_uses_take_ordered(spark, sf_dir):
    from mapreducer_spark.operators.reshape import weighted_sample_orders

    plan = formatted_plan(weighted_sample_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:500]


def test_md5_int64_cross_engine_battery(spark):
    """md5_int64 (the one hash every oracle-checked hash-op rests on)
    must agree between Spark and DuckDB over adversarial inputs: empty,
    quotes, SQL metacharacters, unicode (CJK/emoji/combining), long
    strings, and 200 seeded random printables."""
    import random

    import duckdb

    from mapreducer_spark.functions.hashes import md5_int64, oracle_md5_int64

    rng = random.Random(42)
    corpus = [
        "",
        " ",
        "'",
        '"',
        "a'b--",
        "NULL",
        "\t\n",
        "日本語テキスト",
        "emoji 🎉🎊",
        "é combining",
        "x" * 10_000,
    ] + [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789 _-'\"")
                for _ in range(rng.randint(1, 80)))
        for _ in range(200)
    ]
    sdf = spark.createDataFrame([(s,) for s in corpus], "s string").select(
        "s", md5_int64(F.col("s")).alias("h")
    )
    got = {r.s: r.h for r in sdf.collect()}
    con = duckdb.connect()
    import hashlib

    for s in corpus:
        (dh,) = con.execute(
            f"SELECT {oracle_md5_int64('?')}", [s]
        ).fetchone()
        assert got[s] == dh, (s[:40], got[s], dh)
        # Third, engine-independent leg: top-15 hex digits of RFC-1321
        # md5 over UTF-8 — if both engines ever agreed on a WRONG
        # value (shared quirk), this still catches it.
        py = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        assert got[s] == py, (s[:40], got[s], py)


def test_profile_bucket_bits_match_gate_resolution(spark, oracle_sf_dir):
    """Drift guard: the adaptive blocking rule evaluated at the
    correctness-gate fixture must equal the resolution the static
    DuckDB oracle is rendered at — if the fixture's user count ever
    changes enough to move the rule, this fails loudly instead of the
    gate silently hash-mismatching."""
    from mapreducer_spark.operators.events_time import (
        _GATE_PROFILE_BITS,
        _profile_bucket_bits,
        _profile_bucket_hours,
    )
    from mapreducer_spark.sources import load_table

    n_users = (
        load_table(spark, oracle_sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert _profile_bucket_bits(n_users) == _GATE_PROFILE_BITS
    # Rule sanity: monotone, capped, and gate hours unchanged.
    assert _profile_bucket_hours(4) == (0, 6, 12, 18)
    assert _profile_bucket_bits(15_000) > _GATE_PROFILE_BITS
    assert _profile_bucket_bits(10**9) <= 24
    for b in (4, 6, 9, 24):
        assert len(_profile_bucket_hours(b)) == b


def test_unpartitioned_window_detector(spark):
    """The single-partition window budget rests on this census field:
    a Window node with an empty partition spec is found in the EXECUTED
    plan and sized by the nearest row metric below it; partitioned
    windows and the two-phase helper rewrites report nothing."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducer_spark.functions.agg import (
        global_row_number_with_total,
        global_running_sum_with_total,
    )
    from mapreducer_spark.plans.inspect import (
        UNPARTITIONED_WINDOW_MAX_ROWS,
        plan_census,
    )

    base = spark.range(0, 9000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(7)).alias("g")
    )

    # The defect: 9000 data rows through one task — detected and sized.
    bad = base.select(
        "id", F.row_number().over(Window.orderBy("id")).alias("rn")
    )
    bad.collect()
    sizes = plan_census(bad).windows
    assert sizes == [9000]
    assert sizes[0] > UNPARTITIONED_WINDOW_MAX_ROWS

    # Partitioned window: invisible to the detector.
    ok = base.select(
        "id",
        F.row_number()
        .over(Window.partitionBy("g").orderBy("id"))
        .alias("rn"),
    )
    ok.collect()
    assert plan_census(ok).windows == []

    # The prescribed fixes: identical answers, no unpartitioned window.
    ranked, total = global_row_number_with_total(base, ["id"])
    ranked.collect()
    assert total == 9000
    assert plan_census(ranked).windows == []

    summed, grand = global_running_sum_with_total(
        base, ["id"], "g", out_name="cum_g"
    )
    summed.collect()
    assert grand == sum(i % 7 for i in range(9000))
    assert plan_census(summed).windows == []


def test_hinted_broadcast_budget_gate(spark):
    """The hinted-broadcast budget rests on this census field + gate
    wiring: an explicit broadcast() hint on a frame that grows with the
    data is found in the EXECUTED plan, attributed to its JoinHint (so
    stats/AQE auto-broadcasts of the SAME frame are exempt), and fails
    run_spark_gated; domain-bounded hints pass."""
    from pyspark.sql import functions as F

    import pytest

    from mapreducer_spark.oracle import run_spark_gated
    from mapreducer_spark.plans.inspect import (
        BROADCAST_HINTED_MAX_ROWS,
        plan_census,
    )
    from mapreducer_spark.registry import Query

    base = spark.range(0, 9000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(7)).alias("g")
    )
    grower = spark.range(0, 9000).select(
        F.col("id").alias("id2"), (F.col("id") * 2).alias("v")
    )

    # The defect: a deliberately hinted data-dimension frame — detected,
    # sized, and killed by the gate.
    def bad_fn(spark_, sf_dir_):
        return (
            base.join(F.broadcast(grower), base.id == grower.id2)
            .groupBy("g")
            .agg(F.sum("v").alias("sv"))
        )

    bad = bad_fn(spark, "")
    bad.collect()
    sizes = plan_census(bad).hinted
    assert sizes == [9000]
    assert sizes[0] > BROADCAST_HINTED_MAX_ROWS
    with pytest.raises(AssertionError, match="hint-forced BroadcastExchange"):
        run_spark_gated(
            spark, Query("bad_hinted_grower", bad_fn, oracle=None), ""
        )

    # The SAME join auto-broadcast (no hint): exempt by attribution —
    # Spark's planner degrades it on its own when the frame outgrows
    # the bytes threshold at scale.
    auto = (
        base.join(grower, base.id == grower.id2)
        .groupBy("g")
        .agg(F.sum("v").alias("sv"))
    )
    auto.collect()
    assert plan_census(auto).hinted == []

    # A domain-bounded hint (25-row dim): under budget, passes the gate.
    dim = spark.range(0, 25).select(
        F.col("id").alias("g2"), F.lit("x").alias("tag")
    )

    def ok_fn(spark_, sf_dir_):
        return (
            base.join(F.broadcast(dim), base.g == dim.g2)
            .groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    ok = ok_fn(spark, "")
    ok.collect()
    assert plan_census(ok).hinted == [25]
    run_spark_gated(spark, Query("ok_hinted_dim", ok_fn, oracle=None), "")


def test_plan_census_sees_subqueries(spark, sf_dir):
    """Every AQE subquery is its own adaptive plan: the census walks
    into scalar and IN subqueries, so their scans count against the
    rescan budget and a hint inside one meets the broadcast budget."""
    from mapreducer_spark.plans.inspect import check_plan_budgets, plan_census
    from mapreducer_spark.sql_api import sql

    nested = sql(
        spark,
        sf_dir,
        "SELECT o_orderkey FROM orders"
        " WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"
        " AND o_orderkey IN (SELECT l_orderkey FROM lineitem"
        " WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem))",
    )
    nested.collect()
    assert plan_census(nested).scans == {"orders": 2, "lineitem": 2}

    spark.range(0, 9000).createOrReplaceTempView("base")
    spark.range(0, 9000).selectExpr(
        "id AS id2", "id * 2 AS v"
    ).createOrReplaceTempView("grower")
    hinted = spark.sql(
        "SELECT id FROM base WHERE id < (SELECT /*+ BROADCAST(grower) */"
        " sum(v) FROM base JOIN grower ON base.id = grower.id2)"
    )
    hinted.collect()
    with pytest.raises(AssertionError, match="hint-forced BroadcastExchange"):
        check_plan_budgets(hinted, "hinted_in_subquery")


def test_two_phase_helper_output_stats_keep_broadcast_alive(spark):
    """Regression guard for the r10 near-miss: routing the helpers'
    partition offsets through a broadcast JOIN made Spark's size-only
    join estimate (PRODUCT of child sizes) blow past the auto-broadcast
    threshold, flipping downstream cross joins to CartesianProduct
    (caught live by the plan sweep on vocab_growth_curve).  The helpers
    must stay expression-only so a tiny dim crossJoined against their
    output still plans as a broadcast join."""
    from pyspark.sql import functions as F

    from mapreducer_spark.functions.agg import (
        global_row_number_with_total,
        global_running_sum_with_total,
    )
    from mapreducer_spark.plans.inspect import formatted_plan

    base = spark.range(0, 5000).select(
        "id", F.pmod(F.col("id"), F.lit(9)).alias("v")
    )
    dim = spark.range(1, 11).select(F.col("id").alias("decile"))

    ranked, _n = global_row_number_with_total(base, ["id"])
    plan = formatted_plan(dim.crossJoin(ranked))
    assert "CartesianProduct" not in plan, plan

    summed, _t = global_running_sum_with_total(base, ["id"], "v")
    plan = formatted_plan(dim.crossJoin(summed))
    assert "CartesianProduct" not in plan, plan


def test_inline_rows_sql_fast_path_matches_column_path(spark):
    """The selectExpr fast path must produce the SAME schema and rows
    as the F.lit struct fallback for every scalar-cell shape (the
    fallback stays authoritative for Decimal/None/array cells)."""
    from mapreducer_spark.functions import inline as il

    cases = [
        # (rows, names) — int promotion, floats, strings w/ escapes, bools
        ([(1, 2), (3, 4)], ["a", "b"]),
        ([(-5, 2**52), (7, 0)], ["k", "big"]),  # bigint promotion
        ([(0.25, 1), (1e-9, 2)], ["f", "i"]),  # mixed float+int column
        ([("x'y", 1.5), ("a''b", -2.0)], ["s", "v"]),
        ([(True, "t"), (False, "u")], ["flag", "tag"]),
        ([([0.5, -1.0], 1), ([2.0, 3.5], 2)], ["arr", "i"]),  # array<double>
    ]
    for rows, names in cases:
        sql_sql = il._render_sql_cells(rows, names)
        assert sql_sql is not None, rows
        fast = spark.range(1).selectExpr(f"inline(array({sql_sql}))")
        import pyspark.sql.functions as F

        slow = (
            spark.range(1)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                *[
                                    F.lit(v).alias(n)
                                    for v, n in zip(row, names)
                                ]
                            )
                            for row in rows
                        ]
                    )
                ).alias("__s")
            )
            .select(*[F.col(f"__s.{n}").alias(n) for n in names])
        )
        assert fast.schema == slow.schema, (rows, fast.schema, slow.schema)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        )
    # cells the fast path must refuse (fallback handles them)
    from decimal import Decimal

    assert il._render_sql_cells([(Decimal("1.5"), 1)], ["d", "i"]) is None
    assert il._render_sql_cells([(None, 1)], ["n", "i"]) is None
    assert il._render_sql_cells([(float("nan"), 1)], ["f", "i"]) is None
    assert il._render_sql_cells([(1,), ("x",)], ["m"]) is None
    # backslash strings are escape-mode-dependent (ADVICE r10) — fallback
    assert il._render_sql_cells([("a\\b", 1)], ["s", "i"]) is None
    # int-only / empty array cells type-drift vs F.lit (ADVICE r10)
    assert il._render_sql_cells([([1, 2], 1)], ["arr", "i"]) is None
    assert il._render_sql_cells([([], 1)], ["arr", "i"]) is None
    assert il._render_sql_cells([([1.0, 2], 1), ([3], 2)], ["arr", "i"]) is None


def test_no_python_worker_literal_frames_in_operators():
    """Structural kill for the per-query Python-worker literal-frame
    class: `spark.createDataFrame(rows)` inside an operator pays ~1 s
    of pyspark interpreter spin-up PER QUERY INVOCATION (measured on
    the IVF index frame, SURVEY r4; re-measured on the coverage-ks
    frame, r10).  Literal tables must go through
    functions/inline.py::inline_rows (JVM-only, one parse) — the only
    allowed createDataFrame is the EMPTY-frame idiom (no rows, no
    worker task), used by streaming first-batch states."""
    import pathlib

    ops_dir = (
        pathlib.Path(__file__).resolve().parents[1] / "mapreducer_spark"
    )
    offenders = []
    for path in sorted(ops_dir.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame" not in line or line.strip().startswith("#"):
                continue
            if "createDataFrame([]" in line:  # empty-frame idiom
                continue
            if path.name == "inline.py" and "``" in line:  # its own docstring
                continue
            offenders.append(f"{path.relative_to(ops_dir)}:{i}: {line.strip()}")
    assert not offenders, offenders


@pytest.mark.parametrize("module", ["plans/inspect.py", "oracle.py"])
def test_plan_inspection_has_no_assert_statements(module):
    """plans/inspect.py and oracle.py guard production paths (the oracle
    gate and every inspected pin), and ``python -O`` strips ``assert``:
    every check there must be an explicit raise."""
    import ast
    from pathlib import Path

    import mapreducer_spark

    path = Path(mapreducer_spark.__file__).parent / module
    tree = ast.parse(path.read_text())
    asserts = [n.lineno for n in ast.walk(tree) if isinstance(n, ast.Assert)]
    assert asserts == [], f"assert statements at lines {asserts}"


def test_checkpoint_inspected_catches_blinded_violation(spark):
    """checkpoint_inspected closes the localCheckpoint
    blind spot: a budget violation INSIDE a checkpointed subtree is
    invisible to run_spark_gated (lineage severed — the gate sees only
    the LocalTableScan-rooted final segment), but the wrapper inspects
    the subtree at materialization time and fails loud."""
    import pytest
    from pyspark.sql import functions as F

    from mapreducer_spark.plans.inspect import (
        checkpoint_inspected,
        plan_census,
    )

    base = spark.range(0, 9000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(7)).alias("g")
    )
    grower = spark.range(0, 9000).select(
        F.col("id").alias("id2"), (F.col("id") * 2).alias("v")
    )
    bad = base.join(F.broadcast(grower), base.id == grower.id2).select(
        "g", "v"
    )

    # The blind spot: after a bare localCheckpoint the violation is gone
    # from the downstream plan the gate inspects.
    blinded = bad.localCheckpoint(eager=True).groupBy("g").agg(
        F.sum("v").alias("sv")
    )
    blinded.collect()
    assert plan_census(blinded).hinted == []

    # The fix: the wrapper raises at materialization time.
    with pytest.raises(AssertionError, match="hint-forced"):
        checkpoint_inspected(bad, "test_subtree")

    # And an under-budget subtree passes through with lineage severed.
    dim = spark.range(0, 25).select(F.col("id").alias("g2"))
    ok = checkpoint_inspected(
        base.join(F.broadcast(dim), base.g == dim.g2), "ok_subtree"
    )
    assert ok.count() > 0


def test_local_checkpoint_called_only_by_checkpoint_inspected():
    """plans/inspect.py is the package's one pin path: a bare
    localCheckpoint anywhere else would sever lineage without the
    structural budgets ever seeing the pinned subtree."""
    import ast
    from pathlib import Path

    import mapreducer_spark

    root = Path(mapreducer_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "plans/inspect.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert offenders == []


def test_query_pin_runs_plan_budgets(spark, sf_dir, monkeypatch):
    """A query's own pin runs the structural budgets on the subtree it
    severs: with a zero rescan budget, building adaptive_threshold_script
    (whose cust_spend frame is pinned before the SQL script reads it)
    raises, naming the pin."""
    from mapreducer_spark.operators.sqlfront import adaptive_threshold_script
    from mapreducer_spark.plans import inspect

    monkeypatch.setattr(inspect, "MAX_EXECUTED_SCANS_PER_TABLE", 0)
    with pytest.raises(
        AssertionError,
        match=r"adaptive_threshold_script\.cust_spend \(checkpointed subtree\)",
    ):
        adaptive_threshold_script(spark, sf_dir)
