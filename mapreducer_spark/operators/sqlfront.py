"""ANSI-SQL frontier ops: recursive CTEs, LATERAL joins, regression aggs.

Spark 4 closed the last big ANSI gaps — ``WITH RECURSIVE`` (SPARK-24497)
and correlated ``LATERAL`` subqueries — so these queries are written ONCE
as portable ANSI SQL and executed verbatim on BOTH engines: the Spark
side runs the string through the ``sql_api`` surface, the oracle side is
the SAME string.  That is the strongest possible parity statement for
the SQL surface (no dialect translation at all).

The reference engine has no query language (SURVEY.md §3: its "plan" is
a fixed map-shuffle-reduce); this module is part of the EXT analytics
surface that makes the engine a drop-in SQL backend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import load_table
from mapreducer_spark.sql_api import sql as run_sql

# Month spine via recursion (depth = #months, ~80 at fixture range; the
# recursion is driver-cheap — each step is one row — and the spine then
# LEFT-joins the aggregated fact side, so missing months surface as
# zero rows instead of silently vanishing.  At 100 TB the fact side is
# aggregated BEFORE the join (80 rows vs re-scanning per month).
_GAP_FILL_SQL = """
WITH RECURSIVE bounds AS (
  SELECT CAST(MIN(date_trunc('month', o_orderdate)) AS DATE) AS lo,
         CAST(MAX(date_trunc('month', o_orderdate)) AS DATE) AS hi
  FROM orders
),
-- The upper bound rides along IN the recursion: a scalar subquery in the
-- recursive step would re-scan orders every iteration (~80 scans; 21.6s
-- vs 1.4s at sf0.1 measured).
months(m, hi) AS (
  SELECT lo, hi FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL '1' MONTH AS DATE), hi FROM months WHERE m < hi
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  WHERE o_orderstatus = 'F'
  GROUP BY 1
)
SELECT months.m AS month_start,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(revenue, 0.0) AS revenue
FROM months LEFT JOIN rev ON months.m = rev.m
"""


@register(
    "monthly_gap_fill",
    oracle=_GAP_FILL_SQL,
    doc="Zero-filled monthly revenue series via WITH RECURSIVE (Spark 4 "
    "SPARK-24497): a recursive month spine from the data's own min/max "
    "bounds LEFT-joined to pre-aggregated monthly revenue, so empty "
    "months appear as zeros. The IDENTICAL SQL string runs on Spark and "
    "DuckDB — no dialect translation.",
    tags=("sql", "recursive", "agg"),
)
def monthly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _GAP_FILL_SQL)


_LATERAL_TOPN_SQL = """
SELECT n_name, c.c_name, c.spend
FROM nation, LATERAL (
  SELECT c_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM customer JOIN orders ON o_custkey = c_custkey
  WHERE c_nationkey = n_nationkey
  GROUP BY c_name
  ORDER BY spend DESC, c_name
  LIMIT 3
) c
"""


@register(
    "lateral_top_customers",
    oracle=_LATERAL_TOPN_SQL,
    doc="Top-3 customers by lifetime spend per nation via a correlated "
    "LATERAL subquery (per-group top-n as a join, the plan Catalyst "
    "rewrites to a window + filter under DecorrelateInnerQuery). The "
    "IDENTICAL SQL string runs on Spark and DuckDB. Deterministic "
    "tie-break on (spend DESC, c_name); decimal spend keeps the sums "
    "partition-order invariant.",
    tags=("sql", "lateral", "join", "limit"),
)
def lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _LATERAL_TOPN_SQL)


@register(
    "price_qty_regression",
    oracle="""
SELECT
  l_returnflag,
  COUNT(*) AS n,
  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
  round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Per-returnflag OLS regression of extended price on quantity: "
    "regr_slope / regr_intercept / regr_r2 / corr (SQL:2003 regression "
    "aggregates, single-pass co-moment form on both engines — "
    "map-side-combinable, one shuffle of 3 groups x 6 moments). The "
    "normalized outputs (slope/r2/corr) are scale-free, so 6 dp rounding "
    "absorbs the engines' summation-order difference.",
    tags=("agg", "stats", "regression"),
)
def price_qty_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
    )


# BFS over a data-dependent graph via WITH RECURSIVE — the second
# recursion shape (monthly_gap_fill's spine is linear, one row per step;
# this one fans out through a join against an edge table).  Spark 4
# recursion supports UNION ALL only, so termination comes from the
# explicit depth bound, not row dedup; the walk multiset is then
# collapsed by MIN(depth).  Seeds are the 3 highest-degree parts
# (deterministic tiebreak); depth <= 2 keeps the walk count at
# ~sum-of-neighbor-degrees.
#
# The traversal text below is shared verbatim by both engines; the EDGE
# table is where they deliberately differ.  A recursive CTE's
# non-recursive CTEs are inlined into every iteration, so deriving the
# edge list inside the recursion re-ran the lineitem self-join per step
# (~15 s at sf0.1).  The Spark side therefore recurses over the edge
# list materialized ONCE (graph.copurchase_sym_edges, pinned by the
# session memo) as a view — the same "iterate over a
# pinned edge list" discipline every iterative operator in this repo
# uses (clustering.py, graph.py).  DuckDB, whose optimizer materializes
# the CTE, keeps the fully-inline ANSI derivation as the oracle.
_BFS_TRAVERSAL_SQL = """
seeds AS (
  SELECT src AS seed FROM copurchase_edges_tmp
  GROUP BY src ORDER BY COUNT(*) DESC, src LIMIT 3
),
walks(seed, node, depth) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION ALL
  SELECT w.seed, e.dst, w.depth + 1
  FROM walks w JOIN copurchase_edges_tmp e ON w.node = e.src
  WHERE w.depth < 2
),
reach AS (
  SELECT seed, node, MIN(depth) AS hops
  FROM walks GROUP BY seed, node
)
SELECT seed,
       CAST(SUM(CASE WHEN hops = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1hop,
       CAST(SUM(CASE WHEN hops = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2hop
FROM reach
GROUP BY seed
"""


@register(
    "copurchase_bfs_recursive",
    oracle=(
        "WITH RECURSIVE copurchase_edges_tmp AS (\n"
        "  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst\n"
        "  FROM lineitem a\n"
        "  JOIN lineitem b ON a.l_orderkey = b.l_orderkey\n"
        "                 AND a.l_partkey <> b.l_partkey\n"
        "  JOIN orders ON o_orderkey = a.l_orderkey\n"
        "  WHERE year(o_orderdate) = 1997\n"
        "),\n" + _BFS_TRAVERSAL_SQL
    ),
    doc="Bounded-depth BFS reachability over the 1997 co-purchase part "
    "graph via WITH RECURSIVE: from the 3 highest-degree parts, how "
    "many parts sit exactly 1 and exactly 2 hops away (MIN(depth) "
    "collapses the UNION ALL walk multiset — Spark 4 recursion has no "
    "UNION-distinct yet).  The recursive traversal text is shared "
    "verbatim with the DuckDB oracle; the edge list is materialized "
    "once on the Spark side because non-recursive CTEs inline into "
    "every recursion step (see module comment).  Complements "
    "part_copurchase_pagerank (fixed-round DataFrame iteration) with "
    "the declarative recursive-SQL formulation of graph traversal.",
    tags=("sql", "recursive", "graph"),
)
def copurchase_bfs_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.operators.graph import copurchase_sym_edges

    # The memoized edge frame is pinned, so each BFS level of the
    # recursive CTE reads the materialized edges, not the artifact plus
    # its symmetrizing union.  Suffixed view name (repo convention, cf.
    # relational.py "li_gsets_tmp") so a session-global "edges" view
    # can't collide.
    edges = copurchase_sym_edges(spark, sf_dir)
    edges.createOrReplaceTempView("copurchase_edges_tmp")
    return spark.sql("WITH RECURSIVE " + _BFS_TRAVERSAL_SQL)


# ---------------------------------------------------------------------------
# Spark 4.1 SQL scripting — procedural control flow inside the engine
# ---------------------------------------------------------------------------

# The scripted side: walk a threshold up a fixed ladder until at most 1%
# of customers exceed it, then return those customers.  WHILE + DECLARE
# + SET are SQL-scripting constructs (compound statements run atomically
# on the session); each iteration's COUNT re-queries the pre-aggregated
# ~|customers|-row temp view, not the orders fact.
_THRESH_SCRIPT = """
BEGIN
  DECLARE t DOUBLE DEFAULT 3000000.0;
  DECLARE lim BIGINT;
  DECLARE n BIGINT;
  SET lim = (SELECT CAST(CEIL(COUNT(*) * 0.01) AS BIGINT)
             FROM cust_spend_tmp);
  SET n = (SELECT COUNT(*) FROM cust_spend_tmp WHERE spend > t);
  WHILE n > lim DO
    SET t = t + 250000.0;
    SET n = (SELECT COUNT(*) FROM cust_spend_tmp WHERE spend > t);
  END WHILE;
  SELECT c_custkey, spend, t AS threshold
  FROM cust_spend_tmp WHERE spend > t;
END
"""


@register(
    "adaptive_threshold_script",
    oracle="""
WITH cust_spend_tmp AS (
  SELECT o_custkey AS c_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY 1
),
lim AS (
  SELECT CAST(CEIL(COUNT(*) * 0.01) AS BIGINT) AS lim FROM cust_spend_tmp
),
bound AS (
  -- Ladder upper bound derived from the data: enough rungs to clear
  -- MAX(spend), so the closed form can never run off the end of the
  -- ladder and pick a NULL threshold while Spark's WHILE keeps walking
  -- (floor of 40 keeps the fixture plan identical to the original).
  SELECT GREATEST(40, CAST(CEIL((MAX(spend) - 3000000.0) / 250000.0)
                           AS BIGINT)) AS hi
  FROM cust_spend_tmp
),
ladder AS (
  SELECT CAST(3000000.0 + 250000.0 * g AS DOUBLE) AS t
  FROM bound, LATERAL unnest(generate_series(0, hi)) AS u(g)
),
counts AS (
  SELECT t,
         (SELECT COUNT(*) FROM cust_spend_tmp WHERE spend > t) AS n
  FROM ladder
),
chosen AS (
  SELECT MIN(t) AS t FROM counts CROSS JOIN lim WHERE n <= lim
)
SELECT c_custkey, spend, chosen.t AS threshold
FROM cust_spend_tmp CROSS JOIN chosen
WHERE spend > chosen.t
""",
    doc="Spark 4 SQL scripting (SPARK-48338 BEGIN/DECLARE/SET/WHILE): "
    "an adaptive VIP-spend threshold walks up a 250k ladder until at "
    "most 1% of customers exceed it, then returns those customers with "
    "the discovered threshold — procedural control flow the engine "
    "itself executes, no driver-side loop.  The loop body re-queries a "
    "pre-aggregated, checkpointed per-customer spend view "
    "(|customers| rows), never the orders fact.  The DuckDB twin "
    "replaces the WHILE walk with its closed form — min ladder rung "
    "whose exceed-count is within the limit — so the scripted and "
    "declarative formulations are proven equivalent by hash.  "
    "Threshold arithmetic is exact (integer-valued doubles), so the "
    "repeated-addition walk and the k*step closed form agree "
    "bit-for-bit.",
    tags=("sql", "scripting", "agg"),
)
def adaptive_threshold_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust_spend = checkpoint_inspected(
        o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        ),
        "adaptive_threshold_script.cust_spend",
    )
    cust_spend.createOrReplaceTempView("cust_spend_tmp")
    return spark.sql(_THRESH_SCRIPT)
