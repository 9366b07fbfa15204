"""Session-scoped DataFrame memoization for shared derived artifacts.

Several query families derive the same intermediate frame (the BPE
training segmentation, SimHash fingerprints, the co-purchase edge list,
the near-dup pair graph and its component labels):
within one session — the bench, the driver's correctness sweep, a
notebook — the second consumer should get the materialized frame for
free instead of re-deriving it.

Same contract as graph._SYM_EDGE_CACHE: keyed by applicationId so a new
SparkSession never sees another session's frame; fixture inputs are
immutable within a session, so no invalidation; entries from other
(stopped) applications are evicted on insert so long-lived processes
don't pin dead sessions' checkpoints.

The memoized frame is eagerly localCheckpoint-ed: consumers get a short
lineage-free plan, and the (driver-resident) cost is bounded because
every memoized artifact here is vocabulary/metadata-sized (|vocab|,
|docs|, |edges| rows — never corpus-row-sized payloads).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, DataFrame] = {}


def session_memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the memoized frame for ``key`` (scoped to the live
    application), building + checkpointing it on first use."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    cached = _CACHE.get(full_key)
    if cached is not None:
        return cached
    for stale in [k for k in _CACHE if k[0] != app_id]:
        del _CACHE[stale]
    df = build().localCheckpoint(eager=True)
    _CACHE[full_key] = df
    return df


def clear_session_caches() -> None:
    """Drop EVERY session-scoped derived-frame cache in the package —
    this module's memo plus the two module-local dicts with the same
    app-keyed contract (graph._SYM_EDGE_CACHE, textstats._BPE_CACHE).

    For bench harnesses: a per-query timing taken after another query
    warmed a shared memo is an ordering artifact, not a cost statement
    (VERDICT r10 #2 — neardup_clusters read 0.143 s only because
    corpus_after_neardup_dedup ran first).  bench.py clears before
    every timed query so each number is the query's own COLD cost and
    the set is reproducible under a shuffled execution order.
    Production sessions never call this; the memo exists precisely so
    the second consumer in a real session gets the frame for free.

    The parquet schemas remembered by ``sources.read_parquet`` are kept:
    they are table metadata, not derived frames, so keeping them does
    not make one query's cost depend on another having run first.
    """
    from mapreducer_spark.operators import graph, textstats

    _CACHE.clear()
    graph._SYM_EDGE_CACHE.clear()
    textstats._BPE_CACHE.clear()
