"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``mapreducer_spark.registry`` — one object per
operator pairing the Spark implementation with its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreducer_spark.registry import all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"
# The fixture oracle_sql() is compared on; its frozen artifacts are
# inlined into the oracles that read them.
GATE_SF_DIR = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (word count over documents.text) on sf0.001."""
    from mapreducer_spark.operators.wordcount import word_count_df

    return word_count_df(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """Each oracle, runnable on a DuckDB connection that holds only the
    table views: the frozen-artifact relations it reads are inlined for
    GATE_SF_DIR.  A query whose artifact is not fresh there is left out
    (rows-only)."""
    from mapreducer_spark.oracle import self_contained

    return {
        name: sql
        for name, q in all_queries().items()
        if q.oracle is not None
        and (sql := self_contained(q.oracle, GATE_SF_DIR)) is not None
    }
