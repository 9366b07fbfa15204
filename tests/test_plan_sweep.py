"""Repo-wide physical-plan sweep: EVERY registered query's plan is held
to the scale invariants the per-query plan tests assert piecemeal —

1. no CartesianProduct except documented broadcast-scalar/tiny-side
   sites (each whitelisted entry is a deliberate design, not an
   accident Catalyst fell into);
2. no row-at-a-time Python evaluation (BatchEvalPython) anywhere —
   Python only enters via Arrow (ArrowEvalPython / mapInPandas /
   FlatMapGroupsInPandas).

A new query that accidentally plans a cartesian join or a per-row UDF
fails here before it ever reaches a bench or the driver."""

from __future__ import annotations

import pytest

from mapreducer_spark.plans.inspect import formatted_plan
from mapreducer_spark.registry import all_queries

QUERIES = all_queries()

@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_invariants(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    plan = formatted_plan(df)
    # No whitelist: even the deliberate all-pairs/broadcast-scalar sites
    # (user_activity_similarity, similarity_topk, gram matrix) plan as
    # BroadcastNestedLoopJoin, never CartesianProduct — a CartesianProduct
    # node means neither side was broadcastable, which is always a bug
    # at 100 TB.
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    assert "BatchEvalPython" not in plan, (
        f"{name} uses row-at-a-time Python eval"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_complex_typed_result_columns(spark, sf_dir, name):
    """Registry-wide: no declared query may emit array/map/struct columns.

    The driver's value-hash canonicalizer cannot hash list cells — a
    complex-typed output column is a guaranteed ``err`` row the first
    time the driver samples the query (the round-6
    ``inverted_index_rare_terms`` red row, and the latent
    ``embedding_centroid_per_label`` copy of it).  Asserting over the
    whole registry makes the defect class structurally dead: a new query
    with an un-flattened list output fails here before it ships.
    """
    from tests.oracle import assert_scalar_schema

    assert_scalar_schema(name, QUERIES[name].fn(spark, sf_dir))


def test_rows_only_queries_respect_scan_budget(spark, sf_dir):
    """The oracle gate asserts the executed-plan budgets for every
    oracle-backed query as it collects it; the handful of rows-only
    queries (HLL sketches, the xxhash64 LSH path) have no oracle, so
    run them through the same gated collect."""
    from mapreducer_spark.oracle import run_spark_gated

    rows_only = [n for n, q in QUERIES.items() if q.oracle is None]
    assert rows_only, "expected at least the HLL/xxhash64 rows-only set"
    for name in rows_only:
        run_spark_gated(spark, QUERIES[name], sf_dir)
