"""Distributed graph analytics over relational-derived graphs.

Two classic ops beyond the connected-components pass in clustering.py:

- triangle counting on the near-duplicate pair graph — the standard
  cluster-cohesion diagnostic (a near-dup "cluster" that is a path
  rather than a clique is a red flag for transitive-closure dedup).
  Two self-joins over the oriented edge list (a<b<c enumeration, each
  triangle counted once) — the textbook distributed formulation; edge
  orientation by id bounds the join fan-out by the arboricity.

- PageRank on the part co-purchase graph (parts sharing an order),
  fixed 5 iterations — the canonical iterative-dataflow benchmark,
  expressed as joins + aggregations per round with bounded lineage.
  Cross-engine determinism: per-edge contributions are rounded to 10 dp
  and summed as DECIMAL (partition-order invariant); the oracle unrolls
  the same five rounds as chained CTEs (aggregation inside a recursive
  CTE term is not portable SQL, so the unroll IS the declarative twin).

At 100 TB: both ops shuffle only (edge, rank/label) pairs, never
documents; the near-dup edge list is orders of magnitude smaller than
the corpus, and the co-purchase graph shuffles on part keys (uniform,
no skew). Above the rank-vector broadcast cap the iterative loop pins
per round — same recipe as connected_components (clustering.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducer_spark.functions.frozen import frozen_spec
from mapreducer_spark.operators.dedup import (
    ORACLE_NEARDUP_PAIRS_SQL,
    neardup_pairs_shared,
)
from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import load_table


@register(
    "neardup_triangles",
    oracle=f"""
WITH pairs AS ({ORACLE_NEARDUP_PAIRS_SQL}),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.id_b = e2.id_a
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
)
SELECT v, COUNT(*) AS n_triangles
FROM (
  SELECT a AS v FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY v
""",
    doc="Per-vertex triangle counts on the near-dup pair graph: two "
    "hash self-joins over the id-oriented edge list enumerate each "
    "triangle a<b<c exactly once; each corner credits its vertex. "
    "Near-dup clusters should be near-cliques — vertices with cluster "
    "membership but few triangles flag spurious transitive merges.",
    tags=("graph", "dedup", "join"),
)
def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three join branches over the pair frame: the memo's pin makes
    # each a read of the materialized pairs.
    e = neardup_pairs_shared(spark, sf_dir).select("id_a", "id_b")
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    e3 = e.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
    )
    return corners.groupBy("v").agg(F.count(F.lit(1)).alias("n_triangles"))


_PR_ITERS = 5
_PR_DAMP = 0.85
_PR_ROUND = 10  # per-contribution rounding that makes the sums portable
# Rank-vector broadcast cap: ~16 B/row payload => ~100 MB in-memory at
# 5M vertices, a comfortable executor-memory broadcast.  Beyond it the
# per-round join falls back to a keyed shuffle on src.
_PR_BROADCAST_MAX_V = 5_000_000

_PR_YEAR = 1997  # one year of co-purchases: a seasonal graph, and the
# demo stays iteration-bound rather than edge-generation-bound

_ORACLE_COPURCHASE_EDGES = f"""
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey <> b.l_partkey
  JOIN orders ON o_orderkey = a.l_orderkey
  WHERE year(o_orderdate) = {_PR_YEAR}
"""


def _oracle_pagerank_sql() -> str:
    """Unrolled 5-round PageRank as chained CTEs (DuckDB side)."""
    rounds = []
    for i in range(1, _PR_ITERS + 1):
        rounds.append(f"""
r{i} AS (
  SELECT e.dst AS v,
         CAST({1 - _PR_DAMP} AS DOUBLE) / (SELECT n FROM nv)
         + CAST({_PR_DAMP} AS DOUBLE) * CAST(SUM(CAST(
             round(r{i - 1}.rank / deg.deg, {_PR_ROUND})
             AS DECIMAL(28,14))) AS DOUBLE) AS rank
  FROM e
  JOIN deg ON deg.src = e.src
  JOIN r{i - 1} ON r{i - 1}.v = e.src
  GROUP BY e.dst
)""")
    return f"""
WITH e AS ({_ORACLE_COPURCHASE_EDGES}),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
nv AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT src AS v, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) AS rank
       FROM deg),
{",".join(rounds)}
SELECT v, round(rank, 8) AS pagerank FROM r{_PR_ITERS}
"""


def copurchase_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct symmetric (src, dst) co-purchase part edges for
    ``_PR_YEAR``, memoized and pinned per (session, fixture, freshness
    token of the edge artifact) by ``functions.memo.memo_serve``.  Edge
    generation without a fact-fact self-join: per-order part sets (one
    shuffle), in-array i<j pair expansion (the dedup.py LSH-bucket
    trick — order groups are tiny so m^2 structs beat streaming a
    self-join), distinct on UNORDERED pairs (half the shuffle volume),
    then a free symmetrizing union.  Shared by every co-purchase
    analysis and copurchase_bfs_recursive (sqlfront)."""
    from mapreducer_spark.functions.memo import memo_serve

    return memo_serve(spark, sf_dir, _serve_up_edges, _symmetrize)


def _symmetrize(up: DataFrame) -> DataFrame:
    return up.unionByName(
        up.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


@frozen_spec("copurchase_up_edges", sources=("lineitem", "orders"))
def _serve_up_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) DISTINCT unordered (src < dst by sorted-set
    construction) co-purchase part pairs for _PR_YEAR — the frozen half
    of the symmetric edge frame (the symmetrizing union is free on
    read, so the artifact stores each edge once).  A production graph
    pipeline materializes this edge list exactly once per snapshot; the
    eight co-purchase analyses all read it."""
    return _build_up_edges(spark, sf_dir)


def _build_up_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == _PR_YEAR)
        .select("o_orderkey")
    )
    li = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_partkey"
    )
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    up = (
        sets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda x, i: F.transform(
                            F.slice("ps", i + F.lit(2), F.size("ps")),
                            lambda y: F.struct(x.alias("src"), y.alias("dst")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .distinct()
    )
    return up


@register(
    "part_copurchase_pagerank",
    oracle=_oracle_pagerank_sql(),
    doc=f"PageRank ({_PR_ITERS} fixed rounds, damping {_PR_DAMP}) on the "
    "part co-purchase graph (parts sharing an order, symmetric distinct "
    "edges, so no dangling vertices). Spark = iterative join+agg, "
    "pinned per round above the rank broadcast cap (bounded lineage, "
    "the connected-components recipe); oracle = the same rounds "
    "unrolled as chained CTEs. Per-edge contributions round to 10 dp "
    "and sum as DECIMAL, making every round — and therefore the "
    "fixpoint trajectory — identical across engines and partitionings.",
    tags=("graph", "join", "agg"),
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Degree via a window over the symmetric edge list — ONE shuffle
    # (by src) and ONE materialization replace the round-4 chain of
    # [checkpoint edges, checkpoint deg agg, broadcast-join deg back,
    # checkpoint again]: 3 blocking jobs -> 1, and it removes an
    # UNCONDITIONAL broadcast of the |V|-row deg vector that would have
    # violated the rank-vector cap's own memory argument at >5M
    # vertices.  (The broadcast deg setup was 1.8 s of a 3.2 s warm run.)
    sym = copurchase_sym_edges(spark, sf_dir)
    edges = checkpoint_inspected(
        sym.select(
            "src",
            "dst",
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        ),
        "part_copurchase_pagerank.edges",
    )
    n = edges.agg(F.count_distinct("src")).collect()[0][0]
    # Broadcasting the |V|-row rank vector keeps the materialized edge
    # list shuffle-free per round — but only while the vector fits in
    # executor memory.  Above the cap, fall back to a keyed shuffle join
    # on src (edges are already materialized; the extra exchange per
    # round is the honest cost of a rank vector that cannot broadcast),
    # with a per-round pin to bound the lineage the broadcast path
    # avoids by construction.
    use_broadcast = n <= _PR_BROADCAST_MAX_V
    # Round 1 fused: the seed rank is uniformly 1/n, so the first
    # contribution is a literal over the edge list — no rank-vector
    # join, no seed frame.  (Symmetric edges => every vertex has an
    # in-edge, so round 1's groupBy(dst) already covers all of V.)
    contrib0 = F.round(F.lit(1.0 / n) / F.col("deg"), _PR_ROUND).cast(
        "decimal(28,14)"
    )
    ranks = edges.groupBy(F.col("dst").alias("v")).agg(
        (
            F.lit((1 - _PR_DAMP) / n)
            + F.lit(_PR_DAMP) * F.sum(contrib0).cast("double")
        ).alias("rank")
    )
    for _ in range(_PR_ITERS - 1):
        contrib = F.round(F.col("rank") / F.col("deg"), _PR_ROUND).cast(
            "decimal(28,14)"
        )
        # Broadcast-regime path: no per-round checkpoint — the 5 rounds
        # chain as nested builds inside ONE action, each executing
        # exactly once (11.3s -> 4.2s at sf0.1).  The rank vector is
        # UNHINTED (hinted-broadcast budget): it is a per-vertex
        # grower, and ranks comes off a shuffle stage whose exact size
        # AQE knows, so the planner broadcasts it while it fits the
        # bytes threshold and degrades to a shuffle join on its own —
        # the guard below only chooses the CHECKPOINT strategy (a
        # shuffle-join regime needs per-round lineage bounding).  A
        # long-horizon loop (CC-style until-fixpoint) would checkpoint
        # every few rounds instead — see connected_components.
        ranks = (
            edges.join(ranks, edges.src == ranks.v)
            .groupBy(F.col("dst").alias("v"))
            .agg(
                (
                    F.lit((1 - _PR_DAMP) / n)
                    + F.lit(_PR_DAMP) * F.sum(contrib).cast("double")
                ).alias("rank")
            )
        )
        if not use_broadcast:
            ranks = checkpoint_inspected(ranks, "part_copurchase_pagerank.ranks")
    return ranks.select("v", F.round("rank", 8).alias("pagerank"))


# ---------------------------------------------------------------------------
# Round 8 (cont.): market-basket association rules — the support /
# confidence / lift readout over the same co-purchase baskets the graph
# family walks.
# ---------------------------------------------------------------------------

_MBR_MIN_AB = 3
_MBR_TOPK = 40


@register(
    "market_basket_rules",
    oracle=f"""
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM po),
pa AS (SELECT l_partkey AS part, COUNT(*) AS n_a FROM po GROUP BY 1),
pc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MBR_MIN_AB}
)
SELECT pc.part_a, pc.part_b, pc.n_ab, ca.n_a AS n_a, cb.n_a AS n_b,
  round(CAST(pc.n_ab AS DOUBLE) / n.n_orders, 6) AS support,
  round(CAST(pc.n_ab AS DOUBLE) / ca.n_a, 6) AS conf_a_to_b,
  round(CAST(pc.n_ab AS DOUBLE) / cb.n_a, 6) AS conf_b_to_a,
  round(CAST(pc.n_ab AS DOUBLE) * n.n_orders / (ca.n_a * cb.n_a), 6) AS lift
FROM pc JOIN pa ca ON ca.part = pc.part_a
        JOIN pa cb ON cb.part = pc.part_b, n
ORDER BY lift DESC, part_a, part_b LIMIT {_MBR_TOPK}
""",
    doc="Market-basket association rules (Agrawal & Srikant 1993 "
    "measures, pair itemsets): per unordered part pair the support, "
    "both directed confidences, and lift = N*n_ab/(n_a*n_b), floored "
    f"at n_ab >= {_MBR_MIN_AB} so singleton co-occurrences (lift's "
    "hapax failure mode, same as PMI's) never rank.  Lift IS the "
    "basket-domain PMI without the log — the two ops cross-reference "
    "each other's floors deliberately.  Determinism: all four inputs "
    "are exact BIGINT counts; each output is ONE double division (or "
    "one product then division) rounded at 6dp, and the top-k orders "
    "on the ROUNDED lift with a (part_a, part_b) tie-break.  Scale "
    "shape: per-order sorted part sets in one shuffle, map-side "
    "in-array i<j pair expansion (order baskets are tiny, m^2 structs "
    "beat a fact-fact self-join — the copurchase_sym_edges trick), "
    "one count shuffle on pairs with the floor applied BEFORE the two "
    "part-frequency joins, totals as 1-row broadcasts.  The oracle "
    "uses the relational self-join formulation — a genuinely "
    "different pair derivation, so the hash check also validates the "
    "array expansion.",
    tags=("graph", "agg", "mining", "topk"),
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    n = sets.agg(F.count(F.lit(1)).alias("n_orders"))
    pa = sets.select(F.explode("ps").alias("part")).groupBy("part").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice("ps", i + F.lit(2), F.size("ps")),
                        lambda y: F.struct(
                            x.alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pc = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _MBR_MIN_AB)
    )
    ca = pa.select(F.col("part").alias("part_a"), F.col("n_a").alias("n_a"))
    cb = pa.select(F.col("part").alias("part_b"), F.col("n_a").alias("n_b"))
    ab = F.col("n_ab").cast("double")
    return (
        pc.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(ab / F.col("n_orders"), 6).alias("support"),
            F.round(ab / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(ab / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                ab * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(_MBR_TOPK)
    )


# ---------------------------------------------------------------------------
# Round 8 (cont.): k-core peeling — the cohesion filter of the graph
# family (PageRank ranks, BFS measures distance, k-core keeps only the
# mutually-dense part kept after iterated low-degree removal).
# ---------------------------------------------------------------------------

_KCORE_K = 10
_KCORE_ROUNDS = 6


def _oracle_kcore_sql() -> str:
    """Unrolled fixed-budget peeling as chained CTEs (DuckDB side)."""
    steps = []
    for i in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
s{i} AS MATERIALIZED (
  SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN s{i} a ON a.src = e.src JOIN s{i} b ON b.src = e.dst
)""")
    return f"""
WITH e0 AS MATERIALIZED ({_ORACLE_COPURCHASE_EDGES}),
{",".join(steps)}
SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS degree,
       COUNT(*) >= {_KCORE_K} AS meets_k
FROM e{_KCORE_ROUNDS} GROUP BY src
"""


@register(
    "copurchase_kcore",
    oracle=_oracle_kcore_sql(),
    doc=f"k-core peeling over the co-purchase part graph (k={_KCORE_K}, "
    f"FIXED {_KCORE_ROUNDS}-round budget): each round drops every node "
    f"with fewer than {_KCORE_K} surviving neighbors and the edges "
    "touching it, the cascading-removal process whose fixed point is "
    "the k-core (Seidman 1983) — the subgraph where recommendation / "
    "bundle signals are dense enough to trust, where PageRank ranks "
    "and BFS measures.  Fixed-budget semantics like the 5-round "
    "PageRank: the result is 'the survivors after R peels' — "
    "hash-stable at ANY scale by construction (convergence rounds are "
    "data-dependent; at gate scale peeling converges in round 5 and "
    "round 6 is a live no-op, and meets_k reports per-node whether "
    "the budget sufficed).  Determinism: pure integer degrees, no "
    "floats anywhere.  Scale shape: the rounds run as a survivor-set "
    "recurrence S1 = {u : deg(u) >= k}, S(r+1) = {u : |N(u) & S(r)| >= "
    "k} over the edge frame, pinned once.  The recurrence is monotone "
    "(S(r+1) is a subset of S(r)), so the edges with both ends in S(R) "
    "are exactly the edge peel's round-R survivors; each level is ONE "
    "degree aggregation over a semi-join against the vertex-sized "
    "previous level, referenced once, so all rounds chain into one "
    "lazy plan with no per-round checkpoint (GraphX's Pregel shape).",
    tags=("graph", "iterative", "join"),
)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every level scans the edge frame once; the memo's pin makes that
    # a read of the materialized edges, not of the artifact.
    edges = copurchase_sym_edges(spark, sf_dir)
    return _kcore_peel(edges, _KCORE_K, _KCORE_ROUNDS)


def _kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Survivors of ``rounds`` k-peels of the symmetric (src, dst) edge
    frame, as (v, degree, meets_k) over the surviving edges.

    Invariant: S1 = {u : deg(u) >= k} and S(r+1) = {u : |N(u) & S(r)|
    >= k} give S(r+1) <= S(r) by induction, so the edge peel's round-r
    edge set is exactly the edges with both ends in S(r).  Each level
    is a vertex-sized frame that refers to the previous level once, so
    the plan grows linearly in rounds and the whole recurrence runs as
    one lazy plan; the final filter's two references to S(R) share
    their exchanges."""
    surv = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= k)
        .select(F.col("src").alias("dst"))
    )
    for _ in range(rounds - 1):
        surv = (
            edges.join(surv, "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("dst"))
        )
    core = edges.join(surv, "dst").join(
        surv.select(F.col("dst").alias("src")), "src"
    )
    return core.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("degree"),
        (F.count(F.lit(1)) >= k).alias("meets_k"),
    )


# ---------------------------------------------------------------------------
# Round 8 (cont.): link prediction + degree assortativity — the two
# remaining classic readouts over the co-purchase graph (PageRank ranks,
# BFS measures distance, k-core filters cohesion; Adamic-Adar PREDICTS
# the missing edges, assortativity characterizes the wiring).
# ---------------------------------------------------------------------------

# Super-hub guard for wedge enumeration: middles above this degree are
# dropped entirely (standard in the link-prediction literature — a
# 1/ln(deg) weight makes mega-hub wedges carry ~no signal while costing
# deg^2 pairs).  Never fires at gate scale (max deg 65 at sf0.01); at a
# 100 TB co-purchase graph it is the bound that keeps the pair stage
# sum(min(deg, cap)^2) instead of sum(deg^2).
_LP_MAX_DEG = 256
_LP_TOPK = 100
_LP_W_ROUND = 12  # per-wedge weight rounding that makes the sums portable


@register(
    "copurchase_link_prediction",
    oracle=f"""
WITH e AS MATERIALIZED ({_ORACLE_COPURCHASE_EDGES}),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
mid AS (
  SELECT e.src, e.dst, CAST(round(1.0 / ln(deg.deg), {_LP_W_ROUND})
                            AS DECIMAL(28,{_LP_W_ROUND})) AS w
  FROM e JOIN deg ON deg.src = e.src
  WHERE deg.deg BETWEEN 2 AND {_LP_MAX_DEG}
),
wedge AS (
  SELECT e1.dst AS part_a, e2.dst AS part_b, e1.w
  FROM mid e1 JOIN mid e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
cand AS (
  SELECT part_a, part_b,
         COUNT(*) AS common_neighbors,
         round(CAST(SUM(w) AS DOUBLE), 6) AS aa_score
  FROM wedge
  GROUP BY 1, 2
)
SELECT part_a, part_b, common_neighbors, aa_score
FROM cand
WHERE NOT EXISTS (
  SELECT 1 FROM e WHERE e.src = cand.part_a AND e.dst = cand.part_b
)
ORDER BY aa_score DESC, part_a, part_b
LIMIT {_LP_TOPK}
""",
    doc="Link prediction on the co-purchase graph: Adamic-Adar scores "
    "(sum over common neighbors m of 1/ln(deg(m)), Adamic & Adar 2003) "
    "for UNCONNECTED part pairs, top-100 — 'parts never yet bought "
    "together that the wiring says should be', the recommendation "
    "candidate generator.  Determinism: per-wedge weight rounds to "
    f"{_LP_W_ROUND}dp and sums as DECIMAL (partition-order invariant, "
    "the PageRank recipe); ordering is on the 6dp-rounded score with a "
    "(part_a, part_b) tie-break.  Scale shape: wedges come from "
    "in-array i<j expansion of per-middle sorted neighbor sets (one "
    "shuffle, no fact-fact self-join — the basket-rules trick), with "
    f"middles capped at deg <= {_LP_MAX_DEG} (mega-hub wedges are "
    "1/ln-damped noise at deg^2 cost); existing edges leave via one "
    "anti-join against the memoized edge frame.  The oracle derives "
    "wedges by relational self-join — a different formulation, so the "
    "hash check validates the array expansion itself.",
    tags=("graph", "mining", "topk", "join"),
)
def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = copurchase_sym_edges(spark, sf_dir)
    nbrs = sym.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("ns")
    )
    mid = nbrs.where(
        F.size("ns").between(2, _LP_MAX_DEG)
    ).withColumn(
        "w",
        F.round(F.lit(1.0) / F.log(F.size("ns").cast("double")), _LP_W_ROUND)
        .cast(f"decimal(28,{_LP_W_ROUND})"),
    )
    # Spread the wedge expansion BEFORE it happens (input skew): the
    # neighbor-list frame is a few MB after the collect_set shuffle, so
    # AQE coalesces it to ~1 partition — and the ~deg-fold Generate
    # below, the anti-join AND the partial pair aggregation then run
    # single-threaded on 4.1M rows (measured: the whole *(9) stage on
    # one core, 2.4 s of the query's 6.5 s).
    # AQE cannot know a Generate's expansion factor; an explicit
    # repartition to cluster parallelism (user-specified, so AQE will
    # not re-coalesce it) spreads the explode.  Rows here are per-MIDDLE
    # metadata (the §8 "decide with small rows" shape), so the extra
    # exchange is tiny at any scale.
    mid = mid.repartition(spark.sparkContext.defaultParallelism)
    wedges = mid.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ns",
                    lambda x, i: F.transform(
                        F.slice("ns", i + F.lit(2), F.size("ns")),
                        lambda y: F.struct(
                            x.alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p"),
        "w",
    ).select("p.part_a", "p.part_b", "w")
    cand = wedges.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.round(F.sum("w").cast("double"), 6).alias("aa_score"),
    )
    # Anti-join against the UP half only (build-side sizing): every
    # candidate has part_a < part_b by construction (ns is sorted
    # ascending and the expansion takes i < j), and the edge set is
    # symmetric, so (part_a, part_b) ∈ sym
    # ⟺ (part_a, part_b) ∈ {src < dst half} — the broadcast hash
    # relation halves (370k rows instead of 740k) with an identical
    # anti-join result.  (Catalyst additionally pushes this anti-join
    # below the pair aggregation, so the build runs once per executor
    # against the wedge stream.)
    connected = sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("part_a"), F.col("dst").alias("part_b")
    )
    return (
        cand.join(connected, ["part_a", "part_b"], "left_anti")
        .orderBy(F.col("aa_score").desc(), "part_a", "part_b")
        .limit(_LP_TOPK)
    )


@register(
    "copurchase_assortativity",
    oracle=f"""
WITH e AS MATERIALIZED ({_ORACLE_COPURCHASE_EDGES}),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
ed AS (
  SELECT dx.deg AS a, dy.deg AS b
  FROM e JOIN deg dx ON dx.src = e.src JOIN deg dy ON dy.src = e.dst
),
m AS (
  SELECT COUNT(*) AS n_directed_edges,
         CAST(SUM(CAST(a AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(a * b AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(a * a AS DECIMAL(38,0))) AS DOUBLE) AS sxx
  FROM ed
)
SELECT n_directed_edges,
       (SELECT COUNT(*) FROM deg) AS n_vertices,
       (SELECT MAX(deg) FROM deg) AS max_degree,
       round(sx / n_directed_edges, 6) AS mean_end_degree,
       round((sxy / n_directed_edges
              - (sx / n_directed_edges) * (sx / n_directed_edges))
             / (sxx / n_directed_edges
                - (sx / n_directed_edges) * (sx / n_directed_edges)),
             6) AS assortativity
FROM m
""",
    doc="Degree assortativity of the co-purchase graph (Newman 2002): "
    "Pearson correlation of endpoint degrees over the symmetric edge "
    "list — positive means popular parts co-sell with popular parts "
    "(hub-club catalogs), negative means hubs bridge niches (the "
    "typical retail shape); it decides whether hub-first strategies "
    "(caching, salting, recommendation seeds) pay off.  Determinism: "
    "the three moments are exact DECIMAL sums of BIGINT products cast "
    "to double while far below 2^53 (max degree 65 at gate, ~1e12 "
    "worst-case sum at 10x vs the 9e15 cast cliff), and the final "
    "expression folds in the same order on both engines before one 6dp "
    "round.  On the SYMMETRIC edge list sum(a)=sum(b) and "
    "sum(a^2)=sum(b^2) by construction, so sx/sxx serve both margins — "
    "that identity is part of what the hash check pins.  Scale shape: "
    "one degree aggregation, two broadcast-joinable degree attachments "
    "(|V| << |E|), one global moment fold — no sort, no pair "
    "explosion.",
    tags=("graph", "agg", "profiling"),
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = copurchase_sym_edges(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nv = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.max("deg").alias("max_degree"),
    )
    da = deg.select(F.col("src").alias("u"), F.col("deg").alias("a"))
    db = deg.select(F.col("src").alias("v"), F.col("deg").alias("b"))
    ed = (
        sym.join(da, sym.src == da.u)
        .join(db, sym.dst == db.v)
        .select("a", "b")
    )
    n = F.count(F.lit(1))
    sx = F.sum(F.col("a").cast("decimal(28,0)")).cast("double")
    sxy = F.sum((F.col("a") * F.col("b")).cast("decimal(38,0)")).cast(
        "double"
    )
    sxx = F.sum((F.col("a") * F.col("a")).cast("decimal(38,0)")).cast(
        "double"
    )
    m = ed.agg(
        n.alias("n_directed_edges"),
        sx.alias("sx"),
        sxy.alias("sxy"),
        sxx.alias("sxx"),
    )
    mean = F.col("sx") / F.col("n_directed_edges")
    return m.crossJoin(F.broadcast(nv)).select(
        "n_directed_edges",
        "n_vertices",
        "max_degree",
        F.round(mean, 6).alias("mean_end_degree"),
        F.round(
            (F.col("sxy") / F.col("n_directed_edges") - mean * mean)
            / (F.col("sxx") / F.col("n_directed_edges") - mean * mean),
            6,
        ).alias("assortativity"),
    )


@register(
    "copurchase_brand_modularity",
    oracle=f"""
WITH e AS MATERIALIZED ({_ORACLE_COPURCHASE_EDGES}),
lab AS (
  SELECT p_partkey AS v, p_brand AS c FROM part
),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
m AS (SELECT COUNT(*) AS m_dir FROM e),
dsum AS (
  SELECT lab.c, SUM(deg.deg) AS d_c
  FROM deg JOIN lab ON lab.v = deg.src GROUP BY 1
),
intra AS (
  SELECT la.c, COUNT(*) AS l_c
  FROM e JOIN lab la ON la.v = e.src JOIN lab lb ON lb.v = e.dst
  WHERE la.c = lb.c GROUP BY 1
),
terms AS (
  SELECT dsum.c,
         CAST(round(CAST(COALESCE(intra.l_c, 0) AS DOUBLE)
                      / CAST(m.m_dir AS DOUBLE)
                    - (CAST(dsum.d_c AS DOUBLE) / CAST(m.m_dir AS DOUBLE))
                      * (CAST(dsum.d_c AS DOUBLE) / CAST(m.m_dir AS DOUBLE)),
                    10) AS DECIMAL(28,10)) AS q_c
  FROM dsum LEFT JOIN intra ON intra.c = dsum.c CROSS JOIN m
)
SELECT COUNT(*) AS n_communities,
       (SELECT COUNT(*) FROM deg) AS n_vertices,
       CAST((SELECT m_dir FROM m) AS BIGINT) AS n_directed_edges,
       round(CAST(SUM(q_c) AS DOUBLE), 6) AS modularity
FROM terms
""",
    doc="Newman modularity of the brand partition on the co-purchase "
    "graph: Q = sum_c [l_c/m - (d_c/2m)^2] with the brand of each "
    "part as its community — 'do brands form buying communities?' "
    "(Q ~ 0 says co-purchase ignores brand, the TPC-H expectation; a "
    "community detector must beat this fixed-partition baseline to "
    "claim structure).  On the symmetric directed edge list the "
    "formula reduces to intra_dir_c/m_dir - (d_c/m_dir)^2 exactly.  "
    "Determinism: all inputs are exact integer counts; per-community "
    "terms fold identically in double, round at 10dp, and sum as "
    "DECIMAL.  Scale shape: degrees and intra-community counts are "
    "two aggregations over the edge list with a broadcast part->brand "
    "label map; the term table is |communities| rows (25 brands).",
    tags=("graph", "agg", "mining"),
)
def copurchase_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = copurchase_sym_edges(spark, sf_dir)
    lab = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("v"), F.col("p_brand").alias("c")
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    m = sym.agg(F.count(F.lit(1)).alias("m_dir"))
    dsum = (
        deg.join(lab, deg.src == lab.v)
        .groupBy("c")
        .agg(F.sum("deg").alias("d_c"))
    )
    la = lab.select(F.col("v").alias("src"), F.col("c").alias("ca"))
    lb = lab.select(F.col("v").alias("dst"), F.col("c").alias("cb"))
    intra = (
        sym.join(la, "src")
        .join(lb, "dst")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    md = F.col("m_dir").cast("double")
    q_c = F.round(
        F.coalesce(F.col("l_c"), F.lit(0)).cast("double") / md
        - (F.col("d_c").cast("double") / md)
        * (F.col("d_c").cast("double") / md),
        10,
    ).cast("decimal(28,10)")
    terms = (
        dsum.join(intra, "c", "left")
        .crossJoin(F.broadcast(m))
        .select("c", "m_dir", q_c.alias("q_c"))
    )
    return (
        terms.groupBy("m_dir")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.round(F.sum("q_c").cast("double"), 6).alias("modularity"),
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "n_communities",
            "n_vertices",
            F.col("m_dir").cast("long").alias("n_directed_edges"),
            "modularity",
        )
    )


_RICH_CLUB_KS = (8, 16, 24, 32, 48)


@register(
    "copurchase_rich_club",
    oracle=f"""
WITH e AS MATERIALIZED ({_ORACLE_COPURCHASE_EDGES}),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
ks AS (SELECT UNNEST([{", ".join(str(k) for k in _RICH_CLUB_KS)}]) AS k),
club AS (
  SELECT ks.k, deg.src FROM ks JOIN deg ON deg.deg > ks.k
),
nodes AS (SELECT k, COUNT(*) AS n_club FROM club GROUP BY k),
intra AS (
  SELECT a.k, COUNT(*) AS m_club
  FROM e JOIN club a ON a.src = e.src
         JOIN club b ON b.k = a.k AND b.src = e.dst
  GROUP BY a.k
)
SELECT nodes.k,
       CAST(nodes.n_club AS BIGINT) AS n_club_nodes,
       CAST(COALESCE(intra.m_club, 0) AS BIGINT) AS n_club_edges_directed,
       round(CAST(COALESCE(intra.m_club, 0) AS DOUBLE)
             / (CAST(nodes.n_club AS DOUBLE) * (nodes.n_club - 1)), 6)
         AS rich_club_coeff
FROM nodes LEFT JOIN intra ON intra.k = nodes.k
WHERE nodes.n_club > 1
ORDER BY nodes.k
""",
    doc="Rich-club coefficient phi(k) of the co-purchase graph: among "
    f"nodes of degree > k (grid {_RICH_CLUB_KS}), what fraction of "
    "possible links exists — do the hub parts preferentially co-sell "
    "with EACH OTHER (rich club) or bridge disjoint niches?  The "
    "density-at-the-top companion to copurchase_assortativity's "
    "global correlation (assortativity can be ~0 while a tight rich "
    "club exists at the extreme tail) and the structural context for "
    "k-core's cohesion filter.  On the symmetric directed list, "
    "phi = m_directed / (n * (n-1)) exactly.  Pure integer counting "
    "to one rounded division per k.  Scale shape: one degree "
    "aggregation, a |club|-sized broadcast membership per k (clubs "
    "shrink as k grows), two semi-join-shaped edge filters.",
    tags=("graph", "agg", "profiling"),
)
def copurchase_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = copurchase_sym_edges(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    from mapreducer_spark.functions.inline import inline_rows

    ks = inline_rows(spark, [(int(k),) for k in _RICH_CLUB_KS], ["k"])
    club = ks.join(deg, deg.deg > ks.k).select("k", "src")
    club = checkpoint_inspected(club, "copurchase_rich_club.club")
    nodes = club.groupBy("k").agg(F.count(F.lit(1)).alias("n_club"))
    ca = club.select("k", F.col("src").alias("ea"))
    cb = club.select(F.col("k").alias("kb"), F.col("src").alias("eb"))
    intra = (
        sym.join(ca, sym.src == ca.ea)
        .join(
            cb,
            (F.col("kb") == F.col("k")) & (sym.dst == cb.eb),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("m_club"))
    )
    return (
        nodes.join(intra, "k", "left")
        .where(F.col("n_club") > 1)
        .select(
            "k",
            F.col("n_club").cast("long").alias("n_club_nodes"),
            F.coalesce(F.col("m_club"), F.lit(0))
            .cast("long")
            .alias("n_club_edges_directed"),
            F.round(
                F.coalesce(F.col("m_club"), F.lit(0)).cast("double")
                / (
                    F.col("n_club").cast("double")
                    * (F.col("n_club") - 1)
                ),
                6,
            ).alias("rich_club_coeff"),
        )
        .orderBy("k")
    )


_PL_DMIN = 4  # MLE tail cutoff: fit only degrees >= dmin


@register(
    "copurchase_degree_powerlaw",
    oracle=f"""
WITH e AS MATERIALIZED ({_ORACLE_COPURCHASE_EDGES}),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
tail AS (SELECT deg FROM deg WHERE deg >= {_PL_DMIN})
SELECT
  (SELECT COUNT(*) FROM deg) AS n_vertices,
  COUNT(*) AS n_tail,
  CAST(MIN(deg) AS BIGINT) AS d_min,
  CAST(MAX(deg) AS BIGINT) AS d_max,
  round(1.0 + CAST(COUNT(*) AS DOUBLE)
        / CAST(SUM(CAST(round(ln(CAST(deg AS DOUBLE)
                                  / ({_PL_DMIN} - 0.5)), 10)
                        AS DECIMAL(28,10))) AS DOUBLE), 6) AS alpha_mle,
  round((1.0 + CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(CAST(round(ln(CAST(deg AS DOUBLE)
                                   / ({_PL_DMIN} - 0.5)), 10)
                         AS DECIMAL(28,10))) AS DOUBLE) - 1.0)
        / sqrt(CAST(COUNT(*) AS DOUBLE)), 6) AS alpha_stderr
FROM tail
""",
    doc="Power-law exponent of the co-purchase degree distribution "
    "(Clauset-Shalizi-Newman discrete MLE with the -1/2 continuity "
    "correction: alpha = 1 + n / sum ln(d/(dmin-1/2)), stderr = "
    f"(alpha-1)/sqrt(n), tail cutoff dmin={_PL_DMIN}) — is the graph "
    "scale-free (alpha ~ 2-3, hubs guaranteed, salt your joins) or "
    "homogeneous (alpha large / fit poor, uniform partitioning is "
    "fine)?  The distributional summary behind the rich-club and "
    "assortativity structure readouts, and the degree-side analogue "
    "of corpus_zipf_fit.  Determinism: exact integer degrees; ln "
    "terms round at 10dp into a decimal sum (PMI recipe); two "
    "rounded outputs.  Scale shape: one degree aggregation, one "
    "tail fold.",
    tags=("graph", "agg", "mining"),
)
def copurchase_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = copurchase_sym_edges(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    deg = checkpoint_inspected(deg, "copurchase_degree_powerlaw.deg")
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    tail = deg.where(F.col("deg") >= _PL_DMIN)
    lnterm = F.round(
        F.log(F.col("deg").cast("double") / (_PL_DMIN - 0.5)), 10
    ).cast("decimal(28,10)")
    n = F.count(F.lit(1))
    s = F.sum(lnterm).cast("double")
    alpha = F.lit(1.0) + n.cast("double") / s
    agg = tail.agg(
        n.alias("n_tail"),
        F.min("deg").cast("long").alias("d_min"),
        F.max("deg").cast("long").alias("d_max"),
        F.round(alpha, 6).alias("alpha_mle"),
        F.round(
            (alpha - 1.0) / F.sqrt(n.cast("double")), 6
        ).alias("alpha_stderr"),
    )
    return agg.crossJoin(F.broadcast(nv)).select(
        "n_vertices",
        "n_tail",
        "d_min",
        "d_max",
        "alpha_mle",
        "alpha_stderr",
    )


# Wilson 95% z and the rule floor shared with market_basket_rules.
_WILSON_Z = 1.96
_WILSON_TOPK = 40


@register(
    "basket_rule_wilson_ranking",
    oracle=f"""
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pa AS (SELECT l_partkey AS part, COUNT(*) AS n_a FROM po GROUP BY 1),
pc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MBR_MIN_AB}
),
scored AS (
  SELECT pc.part_a, pc.part_b, pc.n_ab, ca.n_a,
         CAST(pc.n_ab AS DOUBLE) / ca.n_a AS p,
         {_WILSON_Z} * {_WILSON_Z} AS z2
  FROM pc JOIN pa ca ON ca.part = pc.part_a
)
SELECT part_a, part_b, n_ab, n_a,
       round(p, 6) AS conf_a_to_b,
       round((p + z2 / (2 * n_a)
              - {_WILSON_Z} * sqrt((p * (1 - p) + z2 / (4 * n_a)) / n_a))
             / (1 + z2 / n_a), 6) AS wilson_lower_95
FROM scored
ORDER BY round((p + z2 / (2 * n_a)
              - {_WILSON_Z} * sqrt((p * (1 - p) + z2 / (4 * n_a)) / n_a))
             / (1 + z2 / n_a), 6) DESC, part_a, part_b
LIMIT {_WILSON_TOPK}
""",
    doc="Association rules ranked by the WILSON 95% lower bound of the "
    "confidence (Wilson 1927) instead of the raw ratio — the fix for "
    "market_basket_rules' small-sample trap, where a 3-of-3 rule "
    "(conf 1.0, n=3) outranks a 90-of-100 one; the lower bound "
    "penalizes thin evidence exactly the way rating systems rank "
    "items, so the top of this list is deployable as-is.  "
    "Determinism: exact counts; the Wilson expression folds "
    "identically in double from exact-cast inputs and the ORDER BY "
    "uses the ROUNDED bound with (part_a, part_b) tie-breaks.  Scale "
    "shape: the basket-rules pair derivation (relational self-join "
    "here, in-array expansion in the twin — both counted exactly), "
    "one frequency join, TakeOrdered top-40.",
    tags=("graph", "mining", "topk", "agg"),
)
def basket_rule_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pa = sets.select(F.explode("ps").alias("part")).groupBy("part").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice("ps", i + F.lit(2), F.size("ps")),
                        lambda y: F.struct(
                            x.alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pc = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _MBR_MIN_AB)
    )
    ca = pa.select(F.col("part").alias("part_a"), "n_a")
    scored = pc.join(ca, "part_a").select(
        "part_a",
        "part_b",
        "n_ab",
        "n_a",
        (F.col("n_ab").cast("double") / F.col("n_a")).alias("p"),
    )
    z2 = F.lit(_WILSON_Z * _WILSON_Z)
    na = F.col("n_a")
    wilson = (
        F.col("p")
        + z2 / (2 * na)
        - F.lit(_WILSON_Z)
        * F.sqrt(
            (F.col("p") * (1 - F.col("p")) + z2 / (4 * na)) / na
        )
    ) / (1 + z2 / na)
    return (
        scored.select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            F.round("p", 6).alias("conf_a_to_b"),
            F.round(wilson, 6).alias("wilson_lower_95"),
        )
        .orderBy(F.col("wilson_lower_95").desc(), "part_a", "part_b")
        .limit(_WILSON_TOPK)
    )
