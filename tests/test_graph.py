"""Graph-operator structure tests (beyond the oracle hash checks).

The headline here is the PageRank rank-vector size switch: above
_PR_BROADCAST_MAX_V vertices the per-round join falls back from a
broadcast of the rank vector to a keyed shuffle.  The fallback
branch can never trigger on fixture-sized graphs, so it is forced by
patching the cap to zero and asserted EQUAL to the broadcast path —
the per-edge decimal-rounded contributions make both partitionings
bit-identical, which is exactly what lets a 100 TB run switch plans
without changing answers.
"""

from __future__ import annotations

import pytest

from mapreducer_spark.operators import graph


def _collect_ranks(spark, sf_dir):
    rows = graph.part_copurchase_pagerank(spark, sf_dir).collect()
    return sorted((r.v, r.pagerank) for r in rows)


def test_pagerank_shuffle_fallback_matches_broadcast(spark, sf_dir, monkeypatch):
    broadcast_ranks = _collect_ranks(spark, sf_dir)
    assert broadcast_ranks, "graph should be non-empty at fixture scale"
    monkeypatch.setattr(graph, "_PR_BROADCAST_MAX_V", 0)
    shuffle_ranks = _collect_ranks(spark, sf_dir)
    assert shuffle_ranks == broadcast_ranks


def test_pagerank_mass_conserved(spark, sf_dir):
    """Sum of ranks stays ~1 on a dangling-free symmetric graph: the
    (1-d)/n teleport plus d * (full contribution mass) is a probability
    distribution at every round."""
    rows = graph.part_copurchase_pagerank(spark, sf_dir).collect()
    total = sum(r.pagerank for r in rows)
    assert total == pytest.approx(1.0, abs=1e-4)


def test_cc_shuffle_fallback_matches_broadcast(spark, sf_dir, monkeypatch):
    """connected_components has the same broadcast-or-shuffle switch as
    PageRank (label vector vs edge list); force the over-cap branch and
    assert identical clustering.  Calls connected_components directly —
    going through neardup_clusters would hit the session memo and
    silently skip the shuffle branch on the second call."""
    from mapreducer_spark.operators import clustering
    from mapreducer_spark.operators.dedup import neardup_jaccard_blocked

    pairs = neardup_jaccard_blocked(spark, sf_dir).select("id_a", "id_b")

    def _labels():
        rows = clustering.connected_components(pairs, "id_a", "id_b").collect()
        return sorted((r.v, r.comp) for r in rows)

    broadcast_out = _labels()
    assert broadcast_out
    monkeypatch.setattr(clustering, "_CC_BROADCAST_MAX_V", 0)
    assert _labels() == broadcast_out


def test_connected_components_label_vector_over_hinted_budget(spark):
    """A broadcast-regime graph whose label vector outgrows
    BROADCAST_HINTED_MAX_ROWS: every round pin runs the hinted-broadcast
    budget on its subtree, so the label vector must reach the per-round
    joins unhinted.  4000 vertices in 400 ten-vertex stars (centre =
    the multiple of ten), two rounds to converge."""
    from pyspark.sql import functions as F

    from mapreducer_spark.operators import clustering
    from mapreducer_spark.plans.inspect import BROADCAST_HINTED_MAX_ROWS

    n = 4000
    assert BROADCAST_HINTED_MAX_ROWS < n <= clustering._CC_BROADCAST_MAX_V
    edges = (
        spark.range(n)
        .where(F.col("id") % 10 != 0)
        .select(
            F.col("id").alias("id_a"),
            (F.col("id") - F.col("id") % 10).alias("id_b"),
        )
    )
    got = {
        r.v: r.comp
        for r in clustering.connected_components(edges, "id_a", "id_b").collect()
    }
    assert got == {v: v - v % 10 for v in range(n)}


def test_connected_components_matches_union_find(spark):
    """Third-implementation parity on RANDOM graphs: the iterative
    Spark label propagation vs a pure-Python union-find with min-label
    canonicalization.  The fixture's near-dup graph (and its recursive-
    CTE oracle) only exercises small dense cliques; these sweep sparse
    graphs, a high-diameter path (pointer-jumping depth), and isolated
    edges."""
    import random

    cases = []
    for seed, n, m in [(11, 120, 60), (12, 200, 400), (13, 50, 8)]:
        rng = random.Random(seed)
        cases.append(
            [
                (rng.randrange(n), rng.randrange(n))
                for _ in range(m)
            ]
        )
    # 300-vertex path: diameter stress for the pointer-jumping rounds.
    cases.append([(i, i + 1) for i in range(300)])

    from mapreducer_spark.operators.clustering import connected_components

    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comps: dict[int, list[int]] = {}
        for v in parent:
            comps.setdefault(find(v), []).append(v)
        expect = {
            v: min(members) for members in comps.values() for v in members
        }

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.v: r.comp
            for r in connected_components(df, "id_a", "id_b").collect()
        }
        assert got == expect


def test_asof_join_matches_pandas_merge_asof(spark):
    """Third-implementation parity on RANDOM (key, time) data including
    duplicate left times and right rows at exactly-equal times (the
    '<=' boundary): the union+window as-of join vs pandas merge_asof
    (direction='backward', allow_exact_matches=True).  The right side
    is pre-deduplicated per (key, time) — the operator's documented
    contract — so both engines resolve ties identically."""
    import random

    import pandas as pd

    from mapreducer_spark.operators.asof import asof_join

    rng = random.Random(99)
    left = [
        (rng.randrange(8), rng.randrange(50), i) for i in range(300)
    ]  # (k, t, event_id)
    right_raw = [
        (rng.randrange(8), rng.randrange(50), rng.randrange(1000))
        for _ in range(120)
    ]  # (k, t, payload)
    # Dedup right per (k, t) keeping max payload (operator contract).
    best: dict[tuple, int] = {}
    for k, t, p in right_raw:
        best[(k, t)] = max(best.get((k, t), -1), p)
    right = [(k, t, p) for (k, t), p in best.items()]

    ldf = spark.createDataFrame(left, "k long, t long, event_id long")
    rdf = spark.createDataFrame(right, "rk long, rt long, payload long")
    got = {
        r.event_id: r.payload
        for r in asof_join(
            ldf, rdf, "k", "rk", "t", "rt", ["payload"]
        ).collect()
    }

    lpd = pd.DataFrame(left, columns=["k", "t", "event_id"]).sort_values(
        ["t", "event_id"], kind="mergesort"
    )
    rpd = pd.DataFrame(right, columns=["k", "rt", "payload"]).sort_values(
        "rt", kind="mergesort"
    )
    merged = pd.merge_asof(
        lpd,
        rpd,
        left_on="t",
        right_on="rt",
        left_by="k",
        right_by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    expect = {
        int(r.event_id): (None if pd.isna(r.payload) else int(r.payload))
        for r in merged.itertuples()
    }
    assert got == expect


def test_triangles_counts_each_corner(spark, sf_dir):
    """Every triangle credits exactly 3 corners, so sum(n_triangles) is
    divisible by 3 and positive on the fixture's synthesized near-dups
    only if triangles exist at all (structure check, not an oracle)."""
    rows = graph.neardup_triangles(spark, sf_dir).collect()
    total = sum(r.n_triangles for r in rows)
    assert total % 3 == 0


def _python_kcore_peel(edges, k, rounds):
    """The edge peel itself: each round keeps the edges whose two ends
    both have degree >= k in the previous round's edge set."""
    cur = set(edges)
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for a, _b in cur:
            deg[a] = deg.get(a, 0) + 1
        cur = {(a, b) for a, b in cur if deg[a] >= k and deg.get(b, 0) >= k}
    out: dict[int, int] = {}
    for a, _b in cur:
        out[a] = out.get(a, 0) + 1
    return {v: (d, d >= k) for v, d in out.items()}


def _symmetric(pairs):
    return sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})


def _clique(vs):
    return [(a, b) for a in vs for b in vs if a < b]


def _spark_kcore(spark, edges, k, rounds):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.v: (r.degree, r.meets_k)
        for r in graph._kcore_peel(df, k, rounds).collect()
    }


@pytest.mark.parametrize(
    "case, k, rounds",
    [
        ("empty", 2, 6),
        ("none_meets_k", 3, 6),
        ("clique_with_cascading_chain", 2, 6),
        ("budget_not_finished", 2, 6),
        ("random", 3, 6),
    ],
)
def test_kcore_peel_matches_python_edge_peel(spark, case, k, rounds):
    """The survivor-set recurrence returns what the edge peel returns:
    on an empty graph, on one where no vertex meets k, on a (k+1)-clique
    whose pendant chain peels one vertex per round, and on a chain too
    long for the round budget (its last survivor reports meets_k =
    false)."""
    import random

    if case == "empty":
        pairs = []
    elif case == "none_meets_k":
        pairs = [(i, i + 1) for i in range(6)]
    elif case == "clique_with_cascading_chain":
        # Triangle 0-1-2 with the chain 0-10-11-12-13: the chain's tail
        # has degree 1, so each round removes one more chain vertex and
        # round 4 reaches the 2-core, the triangle.
        pairs = _clique(range(k + 1)) + [(0, 10), (10, 11), (11, 12), (12, 13)]
    elif case == "budget_not_finished":
        # A chain of 8 off the triangle needs 8 rounds; after 6 the first
        # two chain vertices survive and the second has degree 1.
        chain = [0] + list(range(10, 18))
        pairs = _clique(range(k + 1)) + list(zip(chain, chain[1:]))
    else:
        rng = random.Random(7)
        pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(160)]
        pairs = [(a, b) for a, b in pairs if a != b]
    edges = _symmetric(pairs)
    expect = _python_kcore_peel(edges, k, rounds)
    if case == "budget_not_finished":
        assert expect[11] == (1, False)
    if case == "clique_with_cascading_chain":
        assert expect == {v: (2, True) for v in range(3)}
    assert _spark_kcore(spark, edges, k, rounds) == expect


def _kcore_rows(spark, sf_dir):
    from mapreducer_spark.functions.memo import clear_session_caches

    clear_session_caches()
    return sorted(
        tuple(r) for r in graph.copurchase_kcore(spark, sf_dir).collect()
    )


def test_kcore_shuffle_join_regime_matches_broadcast(spark, sf_dir):
    """With broadcasts off, every level's semi-join and the final
    filter become shuffle joins; the rows must not change."""
    broadcast_rows = _kcore_rows(spark, sf_dir)
    assert broadcast_rows
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffle_rows = _kcore_rows(spark, sf_dir)
    finally:
        spark.conf.set(key, prior)
    assert shuffle_rows == broadcast_rows


# Spark jobs of one cold copurchase_kcore (plan building plus the
# collect) at sf0.001 on the test session: 11 measured, 12 when the
# frozen edge artifact's schema is read for the first time.  The peel
# with an eager checkpoint per round ran 30 at sf0.01.
_KCORE_JOB_BUDGET = 12


def test_kcore_job_budget(spark, sf_dir, monkeypatch, count_jobs):
    """The peel is one lazy plan: at most one localCheckpoint (the pin
    of the edge frame) and a fixed number of jobs per query."""
    from mapreducer_spark.functions.memo import clear_session_caches

    frame_cls = type(spark.range(0))
    pins = []
    original = frame_cls.localCheckpoint

    def counted(df, *args, **kwargs):
        pins.append(True)
        return original(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counted)
    clear_session_caches()
    rows, n_jobs = count_jobs(
        lambda: graph.copurchase_kcore(spark, sf_dir).collect()
    )
    assert rows
    assert len(pins) <= 1
    assert 0 < n_jobs <= _KCORE_JOB_BUDGET


def _assert_memo_hit_skips_serve(fn, spark, sf_dir, monkeypatch, count_jobs):
    """A second call of a memoized frozen serve is a hit found by the
    freshness-token probe alone: the same frame, no Spark job, and no
    parquet read of the artifact."""
    import mapreducer_spark.sources as sources
    from mapreducer_spark.functions.memo import clear_session_caches
    from mapreducer_spark.sources import tables

    clear_session_caches()
    first = fn(spark, sf_dir)
    reads = []

    def counted_read(spark, path):
        reads.append(path)
        return tables.read_parquet(spark, path)

    monkeypatch.setattr(sources, "read_parquet", counted_read)
    second, n_jobs = count_jobs(lambda: fn(spark, sf_dir))
    assert second is first
    assert n_jobs == 0
    assert reads == []


def test_sym_edges_memo_hit_skips_serve(
    spark, sf_dir, monkeypatch, count_jobs
):
    _assert_memo_hit_skips_serve(
        graph.copurchase_sym_edges, spark, sf_dir, monkeypatch, count_jobs
    )


def test_neardup_pairs_memo_hit_skips_serve(
    spark, sf_dir, monkeypatch, count_jobs
):
    from mapreducer_spark.operators.dedup import neardup_pairs_shared

    _assert_memo_hit_skips_serve(
        neardup_pairs_shared, spark, sf_dir, monkeypatch, count_jobs
    )


def test_refreeze_mid_session_serves_new_frames(spark, sf_dir, monkeypatch):
    """When the neardup_pairs fingerprint record changes mid-session (a
    refreeze), the memo hands out new frames for the pairs and for the
    component labels whose live build reads them, never the frames
    pinned under the old record; unchanged records keep hitting."""
    import os

    from mapreducer_spark.functions import frozen as fz
    from mapreducer_spark.functions.memo import clear_session_caches
    from mapreducer_spark.operators.clustering import _neardup_cc_labels
    from mapreducer_spark.operators.dedup import neardup_pairs_shared

    clear_session_caches()
    pairs, labels = (
        neardup_pairs_shared(spark, sf_dir),
        _neardup_cc_labels(spark, sf_dir),
    )
    edges = graph.copurchase_sym_edges(spark, sf_dir)
    assert neardup_pairs_shared(spark, sf_dir) is pairs
    assert _neardup_cc_labels(spark, sf_dir) is labels

    real = fz._fingerprints()
    key = f"{os.path.basename(sf_dir.rstrip('/'))}/neardup_pairs"
    refrozen = {**real, key: {**real[key], "n_rows": real[key]["n_rows"] + 1}}
    monkeypatch.setattr(fz, "_fingerprints", lambda: refrozen)

    new_pairs = neardup_pairs_shared(spark, sf_dir)
    new_labels = _neardup_cc_labels(spark, sf_dir)
    assert new_pairs is not pairs
    assert new_labels is not labels
    assert neardup_pairs_shared(spark, sf_dir) is new_pairs
    assert _neardup_cc_labels(spark, sf_dir) is new_labels
    assert graph.copurchase_sym_edges(spark, sf_dir) is edges
    assert sorted(map(tuple, new_pairs.collect())) == sorted(
        map(tuple, pairs.collect())
    )


@pytest.mark.parametrize(
    "query",
    ["copurchase_assortativity", "neardup_triangles", "copurchase_bfs_recursive"],
)
def test_memo_consumers_pin_once(spark, sf_dir, monkeypatch, query):
    """A cold consumer of a memoized frame pays exactly one pin, the
    memo's own: consumers never re-pin memo output."""
    from mapreducer_spark.functions.memo import clear_session_caches
    from mapreducer_spark.registry import all_queries

    frame_cls = type(spark.range(0))
    pins = []
    original = frame_cls.localCheckpoint

    def counted(df, *args, **kwargs):
        pins.append(True)
        return original(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counted)
    clear_session_caches()
    assert all_queries()[query].fn(spark, sf_dir).collect()
    assert len(pins) == 1
