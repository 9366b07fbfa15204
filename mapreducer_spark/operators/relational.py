"""Relational surface (SURVEY.md §2.3 A3-A5, §2.5 O2-O5).

The reference has only group-by-sum (reference src/reducer.c:23-38); the
full relational surface is EXT, expressed 100% with built-in DataFrame
operators so Catalyst handles pushdown/pruning/join-selection.

Scale notes (local[32] tests, 1000-executor design):
- Dimension joins (`nation`, `region`, `customer` at any realistic sf)
  use `broadcast()` hints -> BroadcastHashJoin, no shuffle of the fact
  table (asserted in tests/test_plans.py).
- Fact-fact joins (orders x lineitem) shuffle on the join key once; AQE
  coalesces/splits at runtime.
- All double sums go through DECIMAL (functions/agg.py) so results are
  partition-count-invariant — a correctness requirement under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducer_spark.functions.agg import dec_avg, dec_sum
from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import load_table

# --------------------------------------------------------------------------
# A1/A2/A3 — the TPC-H Q1 shape: wide multi-aggregate group-by over the
# biggest fact table.  One shuffle, partial aggregation map-side.
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)          AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)     AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE)
                                                                  AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE)
                                                                  AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 analogue: wide aggregate over lineitem (map-side "
    "partial agg, one shuffle).  The high-scale sums (disc_price s=4, "
    "charge s=6) ROUND the exact decimal to 2 dp BEFORE the double "
    "cast: past ~1e10 the s=6 unscaled sum exceeds 2^53 and the "
    "decimal->double cast double-rounds DIFFERENTLY per engine (1-ulp "
    "split, caught by tools/oracle_at_scale.py at the 10x fixture); "
    "rounding first keeps the cast exact to |sum| ~ 2^51.",
    tags=("agg",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every aggregated value here is EXACTLY representable at 6dp
    # (quantity integer, prices/discount 2dp, disc_price 4dp, charge
    # 6dp — products of exact decimals), so the fixed6 scaled-long path
    # is provably bit-identical to the former DECIMAL(18,s) casts (no
    # tie can exist past each value's true scale) while replacing ~4.7M
    # per-row BigDecimal ops with codegen long sums (r9).  Final
    # rounding for disc_price/charge happens on the EXACT decimal
    # (merge /1e6 stays decimal) before the double cast, mirroring the
    # oracle's round(SUM(DECIMAL), 2) at any data scale.
    from mapreducer_spark.functions.agg import fixed6_quantize

    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    scaled = li.where(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02"))
    ).select(
        "l_returnflag",
        "l_linestatus",
        fixed6_quantize(F.col("l_quantity")).alias("q_qty"),
        fixed6_quantize(F.col("l_extendedprice")).alias("q_base"),
        fixed6_quantize(disc_price).alias("q_dp"),
        fixed6_quantize(charge).alias("q_ch"),
        fixed6_quantize(F.col("l_discount")).alias("q_disc"),
    )
    qcols = ["q_qty", "q_base", "q_dp", "q_ch", "q_disc"]
    part = scaled.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("__pid")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(c) for c in qcols],
    )
    dec = lambda k: (  # noqa: E731  exact decimal total of one term
        F.sum(F.col(k).cast("decimal(28,0)")) / F.lit(1000000)
    )
    nn = F.sum("__n")
    return part.groupBy("l_returnflag", "l_linestatus").agg(
        dec("q_qty").cast("double").alias("sum_qty"),
        dec("q_base").cast("double").alias("sum_base_price"),
        F.round(dec("q_dp"), 2).cast("double").alias("sum_disc_price"),
        F.round(dec("q_ch"), 2).cast("double").alias("sum_charge"),
        (dec("q_qty").cast("double") / nn).alias("avg_qty"),
        (dec("q_base").cast("double") / nn).alias("avg_price"),
        (dec("q_disc").cast("double") / nn).alias("avg_disc"),
        nn.alias("count_order"),
    )


@register(
    "agg_stats",
    oracle="""
SELECT
  o_orderpriority,
  COUNT(*)                                              AS n_orders,
  MIN(o_totalprice)                                     AS min_price,
  MAX(o_totalprice)                                     AS max_price,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(DISTINCT o_custkey)                             AS n_customers
FROM orders
GROUP BY o_orderpriority
""",
    doc="count/sum/min/max/avg + count-distinct per group (SURVEY.md §2.3 A3/A4).",
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dec_sum("o_totalprice").alias("sum_price"),
        dec_avg("o_totalprice").alias("avg_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "rollup_revenue",
    oracle="""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS grp_level,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
    doc="ROLLUP with GROUPING disambiguation (SURVEY.md §2.3 A5).",
    tags=("agg", "rollup"),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            (
                F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus")
            ).alias("grp_level"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "grp_level",
            "revenue",
            "n_items",
        )
    )


@register(
    "cube_orders",
    oracle="""
SELECT
  COALESCE(o_orderstatus, 'ALL')   AS orderstatus,
  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
  GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS grp_level,
  COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
    doc="CUBE over two dims (SURVEY.md §2.3 A5).",
    tags=("agg", "cube"),
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
            ).alias("grp_level"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "grp_level",
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# O3 — joins.  Dim side broadcast, fact-fact shuffled once.
# --------------------------------------------------------------------------


@register(
    "top_revenue_orders",
    oracle="""
SELECT
  l_orderkey,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 analogue: 3-way join + agg + top-k "
    "(customer broadcast, orders/lineitem shuffled on the join key).",
    tags=("join", "agg", "limit"),
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "nation_revenue",
    oracle="""
SELECT
  n_name,
  r_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
    doc="TPC-H Q5-ish star join: fact tables shuffled once, all dims broadcast.",
    tags=("join", "agg"),
)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "customers_with_1997_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
)
""",
    doc="LEFT SEMI join (EXISTS) — SURVEY.md §2.5 O3.",
    tags=("join", "semi"),
)
def customers_with_1997_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "customers_without_recent_orders",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01'
)
""",
    doc="LEFT ANTI join (NOT EXISTS) — SURVEY.md §2.5 O3. Scoped to 2001 "
    "orders so the result is non-trivial (every customer has SOME order "
    "in the fixtures).",
    tags=("join", "anti"),
)
def customers_without_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "user_customer_full_outer",
    oracle="""
SELECT
  COALESCE(u.user_id, c.c_custkey) AS id,
  COALESCE(u.n_events, 0)          AS n_events,
  (u.user_id IS NOT NULL)          AS has_events,
  (c.c_custkey IS NOT NULL)        AS is_customer
FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) u
FULL OUTER JOIN customer c ON u.user_id = c.c_custkey
""",
    doc="FULL OUTER join — SURVEY.md §2.5 O3 (event users vs customers; "
    "customers with no events survive on the right side).",
    tags=("join", "outer"),
)
def user_customer_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    c = load_table(spark, sf_dir, "customer")
    return u.join(c, u.user_id == c.c_custkey, "full_outer").select(
        F.coalesce("user_id", "c_custkey").alias("id"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("user_id").isNotNull().alias("has_events"),
        F.col("c_custkey").isNotNull().alias("is_customer"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS grp_level,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    doc="Explicit GROUPING SETS (not derivable from rollup/cube) — "
    "SURVEY.md §2.3 A5.",
    tags=("agg", "grouping-sets"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    view = "li_gsets_tmp"
    li.createOrReplaceTempView(view)
    return li.sparkSession.sql(
        f"""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS grp_level,
  COUNT(*) AS n_items
FROM {view}
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""
    )


@register(
    "approx_distinct_users",
    oracle=None,  # HLL sketches differ across engines -> rows-only; the
    # test suite bounds the estimate against the exact count.
    doc="approx_count_distinct (HyperLogLog++) per event_type — SURVEY.md "
    "§2.3 A4. The sketch is mergeable: one pass, no distinct shuffle, "
    "the right tool at 100 TB.",
    tags=("agg", "approx", "rows-only"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "user_hll_rollup",
    oracle=None,  # DataSketches HLL binaries have no DuckDB twin ->
    # rows-only; tests/ bounds every estimate against the exact count.
    doc="Mergeable-sketch rollup (Apache DataSketches HLL, §2.3 A4 at "
    "scale): per (day, event_type) HLL sketches of user_id built in one "
    "pass, then MERGED up to per-event_type totals with hll_union_agg — "
    "the pre-aggregated-rollup pattern that lets a 100 TB warehouse keep "
    "daily sketch tables and answer any coarser distinct-count rollup "
    "by sketch union, never rescanning raw events. HLL register maxima "
    "are order-insensitive, so estimates are deterministic under any "
    "partitioning.",
    tags=("agg", "approx", "sketch", "rows-only"),
)
def user_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@register(
    "approx_distinct_error_report",
    # The banded-verdict pattern (VERDICT r4 #5, applied to the HLL
    # residue): the sketch VALUE can't cross-engine hash (different HLL
    # implementations), but its ERROR CONTRACT can — Spark computes
    # both the estimate and the exact count in one query and emits a
    # within-bound verdict; the oracle recomputes the exact side and
    # asserts the verdict TRUE.  A sketch drifting past its 3*rsd band
    # flips the boolean and hash-fails the gate.
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
    doc="HLL++ sketch acceptance gauge: per event_type, "
    "approx_count_distinct(rsd=0.02) vs the exact distinct count, "
    "reported as a within-3*rsd verdict — the accept/reject check a "
    "100 TB deployment runs on a sample before trusting sketch tables "
    "(same pattern as embedding_int8_quant_error for quantization). "
    "Hash-checked: the exact counts and the TRUE verdicts must match "
    "the oracle.",
    tags=("agg", "approx", "sketch"),
)
def approx_distinct_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    rel_err = F.abs(F.col("approx") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return agg.select(
        "event_type",
        "exact_users",
        (rel_err <= F.lit(3 * 0.02)).alias("within_bound"),
    )


@register(
    "customer_order_counts",
    oracle="""
SELECT
  c_custkey,
  COUNT(o_orderkey) AS n_orders,
  CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
    doc="LEFT OUTER join + agg; customers with zero orders kept (O3/O4).",
    tags=("join", "outer", "agg"),
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dec_sum(F.coalesce("o_totalprice", F.lit(0))).alias("total_spent"),
        )
    )


# --------------------------------------------------------------------------
# O5 — set operations (SQL semantics: INTERSECT/EXCEPT deduplicate).
# --------------------------------------------------------------------------


@register(
    "large_order_customers",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
) big ON big.l_orderkey = o_orderkey
""",
    doc="TPC-H Q18 shape: HAVING over a grouped fact, joined back to the "
    "order/customer chain (IN-subquery written as its decorrelated join "
    "form in both engines).",
    tags=("join", "agg", "having"),
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .where(F.col("qty_dec") > 150)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
    )


@register(
    "idle_rich_customers",
    oracle="""
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM customer
)
AND NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01'
)
""",
    doc="TPC-H Q22 shape: scalar subquery threshold (decimal-exact global "
    "average, broadcast back) + NOT EXISTS anti join.",
    tags=("join", "anti", "subquery"),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01"))
    )
    avg_bal = c.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
    )


@register(
    "forecast_revenue",
    oracle="""
SELECT
  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
    AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: pure filter + global aggregate — every predicate "
    "must reach the parquet scan (pushdown all the way).",
    tags=("agg", "filter"),
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "disjunctive_predicate_revenue",
    oracle="""
SELECT
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE
  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
    doc="TPC-H Q19 shape: OR-of-ANDs join predicate — the optimizer must "
    "push the common p_brand/p_size conjuncts into the broadcast side.",
    tags=("join", "agg", "filter"),
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # part is UNHINTED (r11 hinted-broadcast budget): grows with sf.
    joined = li.join(p, li.l_partkey == p.p_partkey)
    branch = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return joined.where(
        branch("Brand#12", 15, 1, 11)
        | branch("Brand#23", 25, 10, 20)
        | branch("Brand#34", 35, 20, 30)
    ).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "late_shipment_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL '90 days'
)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 analogue: orders having at least one lineitem shipped "
    ">90 days after the order date (EXISTS semi join + agg).",
    tags=("join", "semi", "agg"),
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "brand_supplier_revenue",
    oracle="""
SELECT
  p_brand,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  COUNT(DISTINCT s_suppkey) AS n_suppliers,
  COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY p_brand
""",
    doc="Star join through part + supplier (both broadcast): revenue and "
    "supplier fan-out per brand (covers the remaining dim tables).",
    tags=("join", "agg"),
)
def brand_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "small_quantity_revenue",
    oracle="""
SELECT
  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4)
    AS avg_yearly
FROM lineitem l
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    -- decimal-exact average: the threshold must be bit-identical across
    -- engines or boundary rows flip (plain AVG is order-dependent)
    SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / COUNT(l_quantity))
    FROM lineitem WHERE l_partkey = l.l_partkey
  )
""",
    doc="TPC-H Q17 analogue: correlated scalar subquery (per-part average "
    "threshold), decorrelated in Spark as an aggregate-then-join — the "
    "plan Catalyst itself produces for the SQL form.",
    tags=("join", "subquery", "agg"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    # Decorrelation: the correlated scalar subquery becomes a per-key
    # aggregate joined back on the correlation key.
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("qty_threshold")
    )
    return (
        # part is UNHINTED (r11 hinted-broadcast budget): grows with sf.
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thresholds, li.l_partkey == thresholds.t_partkey)
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


def _custkeys_in_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.year("o_orderdate") == year).select(
        F.col("o_custkey").alias("custkey")
    )


@register(
    "custkeys_1996_and_1997",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
""",
    doc="INTERSECT (distinct semantics) — SURVEY.md §2.5 O5.",
    tags=("setop",),
)
def custkeys_1996_and_1997(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_in_year(spark, sf_dir, 1996).intersect(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "custkeys_1996_not_1997",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
""",
    doc="EXCEPT (distinct semantics) — SURVEY.md §2.5 O5.",
    tags=("setop",),
)
def custkeys_1996_not_1997(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame.subtract == SQL EXCEPT (distinct semantics).
    return _custkeys_in_year(spark, sf_dir, 1996).subtract(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "custkeys_intersect_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT ALL
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
""",
    doc="INTERSECT ALL (bag semantics: multiplicity = min of the two "
    "sides) — SURVEY.md §2.5 O5.",
    tags=("setop",),
)
def custkeys_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_in_year(spark, sf_dir, 1996).intersectAll(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "custkeys_except_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT ALL
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
""",
    doc="EXCEPT ALL (bag semantics: multiplicity = left minus right, "
    "floored at 0) — SURVEY.md §2.5 O5.",
    tags=("setop",),
)
def custkeys_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_in_year(spark, sf_dir, 1996).exceptAll(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "union_all_keys",
    oracle="""
SELECT custkey, COUNT(*) AS n
FROM (
  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
  UNION ALL
  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
)
GROUP BY custkey
""",
    doc="UNION ALL (bag semantics — the reference's merged mapper streams, "
    "reference src/worker_manager.c:187-196) + re-aggregation.",
    tags=("setop", "agg"),
)
def union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = _custkeys_in_year(spark, sf_dir, 1996).unionAll(
        _custkeys_in_year(spark, sf_dir, 1997)
    )
    return u.groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "suppliers_above_avg_revenue",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(revenue, 4) AS revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE revenue > (SELECT CAST(SUM(CAST(revenue AS DECIMAL(28,10))) AS DOUBLE)
                        / COUNT(*) FROM rev)
""",
    doc="Suppliers with above-average lifetime revenue — the correlated-"
    "aggregate-vs-global-aggregate shape (TPC-H Q11-ish without "
    "partsupp). Spark decorrelates via an empty-frame window average "
    "over the per-supplier aggregate (|suppliers| rows, one tiny stage).",
    tags=("agg", "subquery", "tpch"),
)
def suppliers_above_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
        ).alias("revenue")
    )
    # Global average as a 1-row broadcast joined back (an empty-partition
    # window would funnel all suppliers through one task).  The mean is
    # decimal-summed so it is partition-order-invariant: a float AVG
    # could land within epsilon of a supplier's revenue and flip strict->
    # membership between engines (ADVICE r2).
    av = rev.agg(
        (
            F.sum(F.col("revenue").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_rev")
    )
    above = rev.crossJoin(F.broadcast(av)).where(
        F.col("revenue") > F.col("avg_rev")
    )
    # above is UNHINTED (r11 hinted-broadcast budget): a per-supplier
    # frame that grows with sf; the planner broadcasts it while small.
    return (
        above
        .join(s, above.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("revenue", 4).alias("revenue"))
    )


@register(
    "quantity_decile_stats",
    oracle="""
SELECT decile,
       COUNT(*) AS n_items,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM (
  SELECT l_quantity, l_extendedprice,
         NTILE(10) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) AS decile
  FROM lineitem
)
GROUP BY decile
""",
    doc="Decile banding then per-band stats: global NTILE over a unique "
    "total order, re-aggregated — the binned-distribution pattern. "
    "Computed WITHOUT a global sort: the lead sort key (l_quantity) is "
    "low-cardinality (~50 distinct values), so a histogram of it is "
    "metadata-sized; driver arithmetic maps each whole value to its "
    "decile, and only the <=n_tiles BOUNDARY values (those straddling "
    "a decile edge) need intra-value ranking — a window PARTITIONED by "
    "quantity over ~1/5 of the rows, never a single-partition global "
    "window (VERDICT r3 #6: replaced the range-repartition + "
    "checkpoint + offset two-phase ranking, 2.5 s -> ~1 s at sf0.1). "
    "SNAPSHOT ASSUMPTION (ADVICE r4): the histogram is collected "
    "eagerly at CONSTRUCTION time and baked into the plan as decile "
    "literals — correct for immutable fixtures/warehouse snapshots; a "
    "mutable input could drift between construction and execution (the "
    "fix, if ever needed: derive the histogram in-plan via a broadcast "
    "agg).",
    tags=("window", "agg"),
)
def quantity_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mapreducer_spark.functions.agg import ntile_from_rn

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    # Histogram of the lead sort key: ~50 rows — metadata, so collect()
    # is legitimate (same contract as the two-phase ranking's size
    # collect).  Map-side combine makes the agg one cheap pass.
    hist = sorted(
        (r.q, r.c)
        for r in li.groupBy(F.col("l_quantity").alias("q"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    n_total = sum(c for _, c in hist)
    qsz, rem = divmod(n_total, 10)

    def tile_of(rn: int) -> int:  # exact NTILE(10) arithmetic

        big = rem * (qsz + 1)
        if qsz == 0:
            return (rn - 1) % 10 + 1
        if rn <= big:
            return (rn - 1) // (qsz + 1) + 1
        return rem + (rn - big - 1) // qsz + 1

    whole, boundary = [], []  # (quantity, decile) / (quantity, offset)
    off = 0
    for q, c in hist:
        if tile_of(off + 1) == tile_of(off + c):
            whole.append((q, tile_of(off + 1)))
        else:
            boundary.append((q, off))
        off += c

    from mapreducer_spark.functions.inline import inline_rows

    spark = li.sparkSession
    if whole:
        whole_df = inline_rows(spark, whole, ["l_quantity", "decile"])
        in_decile = li.join(F.broadcast(whole_df), "l_quantity").select(
            "l_quantity", "l_extendedprice", "decile"
        )
    else:  # every value straddles an edge (degenerate tiny input)
        in_decile = li.where(F.lit(False)).select(
            "l_quantity", "l_extendedprice", F.lit(1).alias("decile")
        )
    if boundary:
        bound_df = inline_rows(spark, boundary, ["l_quantity", "q_off"])
        w = Window.partitionBy("l_quantity").orderBy("l_orderkey", "l_linenumber")
        # Each boundary value's rows rank within ONE task — bounded by
        # the largest single-value group (~n/50 here).  If such a group
        # outgrew a task, sub-rank it with the two-phase helper; the
        # boundary set itself can never exceed n_tiles values.
        banded_b = (
            li.join(F.broadcast(bound_df), "l_quantity")
            .withColumn("rn", F.row_number().over(w) + F.col("q_off"))
            .select(
                "l_quantity",
                "l_extendedprice",
                ntile_from_rn(F.col("rn"), n_total, 10).alias("decile"),
            )
        )
        in_decile = in_decile.unionByName(banded_b)
    return in_decile.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dec_sum("l_extendedprice").alias("revenue"),
    )


@register(
    "salted_user_event_counts",
    oracle="""
SELECT
  c_custkey,
  c_mktsegment,
  COUNT(*) AS n_events,
  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_custkey, c_mktsegment
""",
    doc="Skew-resistant salted join as a query (SURVEY.md §4.3): the "
    "fact side is salted, the dim side replicated across salts, so a "
    "hot user key spreads over n_salts tasks instead of one. Result set "
    "identical to the plain join (the oracle IS the plain join) — "
    "salting is purely a physical rebalance. Decimal sums keep the "
    "post-join aggregation partition-order invariant.",
    tags=("join", "skew"),
)
def salted_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.agg import salted_join

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(e, c, "user_id", "c_custkey", n_salts=8)
    return joined.groupBy("c_custkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("total_value"),
    )


@register(
    "segment_modal_priority",
    oracle="""
WITH cnt AS (
  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
)
SELECT c_mktsegment, o_orderpriority AS modal_priority, n AS n_orders
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY c_mktsegment ORDER BY n DESC, o_orderpriority ASC
  ) AS rnk FROM cnt
)
WHERE rnk = 1
""",
    doc="Statistical MODE per group (most frequent order priority per "
    "market segment): count-then-argmax with a deterministic tie-break "
    "on the priority string.  The two-level aggregation shape — the "
    "mode() aggregate many engines ship, decomposed into portable "
    "relational pieces; the final window runs over |segments x "
    "priorities| rows (tiny), never the fact table.",
    tags=("agg", "window"),
)
def segment_modal_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cnt = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        cnt.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
    )


@register(
    "waiting_suppliers_q21ish",
    oracle="""
WITH multi AS (
  SELECT l_orderkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey
  HAVING COUNT(DISTINCT l_suppkey) > 1
),
late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL '90 days'
),
sole_blame AS (
  SELECT l_orderkey, MIN(l_suppkey) AS l_suppkey
  FROM late
  GROUP BY l_orderkey
  HAVING COUNT(*) = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM sole_blame
JOIN multi USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    doc="TPC-H Q21 analogue (fixture lacks commitdate/orderstatus detail: "
    "'late' = shipped >90 days after order date). Suppliers who were "
    "the SOLE late supplier on a multi-supplier order — the "
    "EXISTS + NOT EXISTS double-correlation shape, decorrelated into "
    "two aggregations joined back: per-order distinct-supplier count "
    "(multi-supplier filter) and per-order late-supplier set (exactly "
    "one).  Both aggregate before joining, so the join inputs are "
    "order-grained, never lineitem-grained — the decorrelation a "
    "planner must find for Q21 to scale.",
    tags=("join", "tpch", "agg", "limit"),
)
def waiting_suppliers_q21ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    multi = (
        lo.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .where(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    late = (
        lo.where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    sole_blame = (
        late.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("l_suppkey"),
            F.count(F.lit(1)).alias("n_late"),
        )
        .where(F.col("n_late") == 1)
        .select("l_orderkey", "l_suppkey")
    )
    return (
        sole_blame.join(multi, "l_orderkey")
        # supplier is UNHINTED (r11 hinted-broadcast budget): a dim that
        # grows with sf; the planner broadcasts it on its own while small.
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "customer_revenue_concentration",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, rev,
         NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
  FROM per_cust
),
total AS (
  SELECT CAST(SUM(CAST(round(rev, 2) AS DECIMAL(18,2))) AS DOUBLE) AS t
  FROM per_cust
)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(rev, 2) AS DECIMAL(18,2))) AS DOUBLE)
         AS decile_revenue,
       round(CAST(SUM(CAST(round(rev, 2) AS DECIMAL(18,2))) AS DOUBLE)
             / (SELECT t FROM total), 6) AS revenue_share
FROM ranked GROUP BY decile
""",
    doc="Revenue-concentration (Pareto/Lorenz) curve: customers ranked "
    "into revenue deciles, each decile's share of total revenue — the "
    "whale-analysis every marketplace runs.  The NTILE sorts the "
    "per-customer AGGREGATE rows (|customers|, already reduced ~15x "
    "from orders), not the fact table — the same group-level-sort "
    "stance as the decile stats operators; shares are decimal-exact.",
    tags=("relational", "window", "profiling"),
)
def customer_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.agg import (
        dec_sum,
        global_row_number_with_total,
        ntile_from_rn,
    )

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(dec_sum("o_totalprice").alias("rev"))
    # The decile rank runs over the CUSTOMER dimension (15M at sf100) —
    # a plain NTILE window with no partitionBy would pull every customer
    # through one task.  Two-phase global row number + exact NTILE
    # arithmetic instead; (rev DESC, custkey) is a unique total order.
    ranked, n_cust = global_row_number_with_total(
        per_cust, [F.col("rev").desc(), F.col("o_custkey")]
    )
    ranked = ranked.withColumn(
        "decile", ntile_from_rn(F.col("rn"), n_cust, 10)
    )
    # Total revenue from the helper's checkpointed frame — same rows,
    # and orders is scanned once instead of re-executing per_cust.
    total = ranked.agg(
        F.sum(F.round("rev", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("__t")
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round("rev", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("decile_revenue"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_revenue",
            F.round(F.col("decile_revenue") / F.col("__t"), 6).alias(
                "revenue_share"
            ),
        )
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,4))) AS DECIMAL(22,4)) AS r
  FROM lineitem GROUP BY l_suppkey
),
tot AS (SELECT CAST(SUM(r) AS DOUBLE) AS t FROM rev)
SELECT
  COUNT(*) AS n_suppliers,
  round(CAST(SUM(CAST(round(
          (CAST(r AS DOUBLE) / (SELECT t FROM tot))
          * (CAST(r AS DOUBLE) / (SELECT t FROM tot)), 12)
        AS DECIMAL(18,12))) AS DOUBLE), 6) AS hhi,
  round(MAX(CAST(r AS DOUBLE) / (SELECT t FROM tot)), 6) AS top_share
FROM rev
""",
    doc="Supplier revenue concentration: the Herfindahl-Hirschman index "
    "(sum of squared revenue shares; 1/n = perfectly even, 1.0 = "
    "monopoly) plus the single largest share — the supply-risk readout "
    "next to customer_revenue_concentration's demand-side deciles.  "
    "Decimal-exact per-supplier revenue, shares squared in double and "
    "round-then-decimal-summed so the index is partition-order exact; "
    "one supplier-keyed agg + a 1-row total.",
    tags=("relational", "agg", "profiling"),
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("decimal(22,4)")
        .alias("r")
    )
    tot = rev.agg(F.sum("r").cast("double").alias("__t"))
    share = F.col("r").cast("double") / F.col("__t")
    return (
        rev.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum(
                    F.round(share * share, 12).cast("decimal(18,12)")
                ).cast("double"),
                6,
            ).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
    )


@register(
    "abc_inventory_classes",
    oracle="""
WITH pr AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS rev
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(rev) AS total FROM pr),
ranked AS (
  SELECT l_partkey, rev,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(total AS DOUBLE) AS cum_share
  FROM pr CROSS JOIN tot
)
SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class,
       COUNT(*) AS n_parts,
       round(CAST(SUM(rev) AS DOUBLE), 2) AS revenue,
       round(CAST(SUM(rev) AS DOUBLE)
             / CAST(MAX(total) AS DOUBLE), 6) AS revenue_share
FROM ranked CROSS JOIN tot
GROUP BY 1
ORDER BY 1
""",
    doc="ABC inventory classification (Pareto classes): parts ranked by "
    "revenue, class A = the head covering 80% of cumulative revenue, "
    "B to 95%, C the tail — the stocking-policy split behind cycle "
    "counting and warehouse slotting, and the discrete companion to "
    "customer_revenue_concentration's Lorenz view.  Determinism: "
    "revenue is decimal-exact; cumulative shares are identical-order "
    "double divisions of exact decimals, and the rank order has a "
    "l_partkey tie-break so equal-revenue parts accumulate in the "
    "same order on both engines.  Scale shape: the fact table "
    "collapses to the PART DIMENSION in one shuffle; the cumulative "
    "window runs over that bounded frame (|parts|, not |lineitems|) — "
    "the same dimension-bounded-window argument as "
    "open_orders_timeline.",
    tags=("relational", "window", "mining"),
)
def abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # fixed6 scaled-long per-part revenue (r9) — see abc_xyz_matrix;
    # bit-identical to the former DECIMAL(18,4) cast+sum, in codegen.
    from mapreducer_spark.functions.agg import fixed6_grouped_sums

    pr = fixed6_grouped_sums(
        li.select(
            "l_partkey",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("r"),
        ),
        ["l_partkey"],
        {"rev": F.col("r")},
        count_alias=None,
    )
    rev_dec = F.col("rev").cast("decimal(28,6)")
    # The Pareto cumsum runs over the PART dimension (20M parts at
    # sf100) — two-phase range-partitioned prefix sum, decimal-exact,
    # instead of a global-ORDER BY window through one task.  The
    # helper's totals collect also yields total revenue, so lineitem is
    # scanned once (the old broadcast tot re-executed the groupBy).
    from mapreducer_spark.functions.agg import global_running_sum_with_total

    cum, total = global_running_sum_with_total(
        pr.select("l_partkey", "rev", rev_dec.alias("rev_d")),
        [F.col("rev").desc(), F.col("l_partkey")],
        "rev_d",
        out_name="cumrev",
        sum_cast="decimal(38,6)",
    )
    total_lit = F.lit(str(total)).cast("decimal(38,6)")
    ranked = cum.select(
        "rev",
        (
            F.col("cumrev").cast("double") / total_lit.cast("double")
        ).alias("cum_share"),
    )
    cls = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        ranked.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum(rev_dec).cast("double"), 2).alias("revenue"),
            F.round(
                F.sum(rev_dec).cast("double") / total_lit.cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "ship_delay_percentiles",
    oracle="""
WITH d AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
         CAST(date_diff('day',
              CAST(date_trunc('day', o_orderdate) AS DATE),
              CAST(date_trunc('day', l_shipdate) AS DATE)) AS BIGINT)
           AS delay
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
h AS (SELECT ym, delay, COUNT(*) AS c FROM d GROUP BY 1, 2),
cum AS (
  SELECT ym, delay, c,
         SUM(c) OVER (PARTITION BY ym ORDER BY delay
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(c) OVER (PARTITION BY ym) AS n
  FROM h
)
SELECT make_date((ym - 1) // 12, ((ym - 1) % 12) + 1, 1) AS month,
       CAST(MAX(n) AS BIGINT) AS n_items,
       MIN(CASE WHEN cc >= (n + 1) // 2 THEN delay END) AS p50_days,
       MIN(CASE WHEN cc >= (9 * n + 9) // 10 THEN delay END) AS p90_days,
       MIN(CASE WHEN cc >= (99 * n + 99) // 100 THEN delay END) AS p99_days
FROM cum
GROUP BY ym
ORDER BY month
""",
    doc="Order-to-ship delay SLA percentiles per order month: exact "
    "type-1 p50/p90/p99 of the day delay — the fulfillment dashboard "
    "row.  ENTIRELY integer arithmetic: quantile ranks are "
    "ceil-divisions computed as (q*n + q) DIV d on exact counts (no "
    "float q*n whose ULP could flip a ceil), and the selected values "
    "are integer day delays — zero float anywhere, the strongest "
    "determinism class in the registry.  Scale shape: the fact join "
    "collapses to (month x delay-day) cells — delay is DOMAIN-bounded "
    "(~0-130 days by TPC-H construction), so the per-month cumulative "
    "windows run over a few thousand cells regardless of row count; "
    "this is the same distributed-selection shape as "
    "approx_price_quantiles' exact rewrite, specialized to a small "
    "integer domain.",
    tags=("relational", "window", "profiling"),
)
def ship_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.datediff(
            F.date_trunc("day", "l_shipdate").cast("date"),
            F.date_trunc("day", "o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("delay"),
    )
    h = d.groupBy("ym", "delay").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("ym")
        .orderBy("delay")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("ym")
    cum = h.select(
        "ym",
        "delay",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wn).alias("n"),
    )
    pick = lambda num, den: F.min(  # noqa: E731
        F.when(
            F.col("cc")
            >= F.expr(f"({num} * n + {num}) DIV {den}"),
            F.col("delay"),
        )
    )
    return (
        cum.groupBy("ym")
        .agg(
            F.max("n").cast("long").alias("n_items"),
            F.min(
                F.when(
                    F.col("cc") >= F.expr("(n + 1) DIV 2"), F.col("delay")
                )
            ).alias("p50_days"),
            pick(9, 10).alias("p90_days"),
            pick(99, 100).alias("p99_days"),
        )
        .select(
            F.make_date(
                ((F.col("ym") - 1) / 12).cast("int"),
                ((F.col("ym") - 1) % 12) + 1,
                F.lit(1),
            ).alias("month"),
            "n_items",
            "p50_days",
            "p90_days",
            "p99_days",
        )
        .orderBy("month")
    )


@register(
    "abc_xyz_matrix",
    oracle="""
WITH pr AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS rev
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(rev) AS total FROM pr),
abc AS (
  SELECT l_partkey, rev,
         CASE WHEN CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
              WHEN CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM pr CROSS JOIN tot
),
months AS (
  SELECT DISTINCT year(l_shipdate) * 12 + month(l_shipdate) AS ym
  FROM lineitem
),
pm AS (
  SELECT l_partkey, year(l_shipdate) * 12 + month(l_shipdate) AS ym,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
grid AS (
  SELECT pr.l_partkey, months.ym, COALESCE(pm.q, 0) AS q
  FROM pr CROSS JOIN months
  LEFT JOIN pm ON pm.l_partkey = pr.l_partkey AND pm.ym = months.ym
),
xyz AS (
  SELECT l_partkey,
         CASE WHEN sqrt(CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE)
                        / COUNT(*)
                      - (CAST(SUM(CAST(q AS DECIMAL(28,0))) AS DOUBLE)
                         / COUNT(*))
                        * (CAST(SUM(CAST(q AS DECIMAL(28,0))) AS DOUBLE)
                           / COUNT(*)))
                   / (CAST(SUM(CAST(q AS DECIMAL(28,0))) AS DOUBLE)
                      / COUNT(*)) < 0.5 THEN 'X'
              WHEN sqrt(CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE)
                        / COUNT(*)
                      - (CAST(SUM(CAST(q AS DECIMAL(28,0))) AS DOUBLE)
                         / COUNT(*))
                        * (CAST(SUM(CAST(q AS DECIMAL(28,0))) AS DOUBLE)
                           / COUNT(*)))
                   / (CAST(SUM(CAST(q AS DECIMAL(28,0))) AS DOUBLE)
                      / COUNT(*)) < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM grid GROUP BY l_partkey
)
SELECT abc.abc_class, xyz.xyz_class,
       COUNT(*) AS n_parts,
       round(CAST(SUM(abc.rev) AS DOUBLE), 2) AS revenue,
       round(CAST(SUM(abc.rev) AS DOUBLE)
             / CAST(MAX(tot.total) AS DOUBLE), 6) AS revenue_share
FROM abc JOIN xyz ON xyz.l_partkey = abc.l_partkey CROSS JOIN tot
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="ABC-XYZ inventory planning matrix: revenue-concentration "
    "classes (abc_inventory_classes' 80/95% Pareto cut) crossed with "
    "demand-VARIABILITY classes (X: monthly-demand CV < 0.5, Y < 1.0, "
    "Z else, over the full month grid with zero-fill — skipping empty "
    "months would understate variability, the classic XYZ mistake) — "
    "the 9-cell grid that decides stocking policy per cell (AX: "
    "automate replenishment; CZ: make-to-order).  Determinism: "
    "revenue decimal-exact with partkey tie-broken accumulation; CV "
    "from exact integer monthly moments folded identically in "
    "double; class edges compare identical doubles to literals.  "
    "Scale shape: two fact collapses (part revenue, part-month "
    "demand), one part x month zero-fill grid (dimension-bounded), "
    "windows over the part dimension, a 9-row readout.",
    tags=("relational", "window", "mining"),
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # Per-part revenue via the fixed6 scaled-long path: the 4dp-exact
    # disc revenue quantizes tie-free at 6dp, so this is bit-identical
    # to the former per-row DECIMAL(18,4) cast + sum while staying in
    # codegen (r9).  rev comes back as an EXACT-6dp-valued double; the
    # part-level folds below (total, cumulative share) re-cast it to
    # decimal over the ~|parts| frame, which is where exactness must
    # hold and where the row count is small.
    from mapreducer_spark.functions.agg import fixed6_grouped_sums

    pr = fixed6_grouped_sums(
        li.select(
            "l_partkey",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("r"),
        ),
        ["l_partkey"],
        {"rev": F.col("r")},
        count_alias=None,
    )
    pr = checkpoint_inspected(pr, "abc_xyz_matrix.pr")
    rev_dec = F.col("rev").cast("decimal(28,6)")
    # Pareto cumsum over the part dimension: two-phase range-partitioned
    # prefix sum (decimal-exact), not a global-ORDER BY window — same
    # conversion as abc_inventory_classes; parts grow with sf.
    from mapreducer_spark.functions.agg import global_running_sum_with_total

    cum, total = global_running_sum_with_total(
        pr.select("l_partkey", "rev", rev_dec.alias("rev_d")),
        [F.col("rev").desc(), F.col("l_partkey")],
        "rev_d",
        out_name="cumrev",
        sum_cast="decimal(38,6)",
    )
    total_lit = F.lit(str(total)).cast("decimal(38,6)")
    share = F.col("cumrev").cast("double") / total_lit.cast("double")
    abc = cum.select(
        "l_partkey",
        "rev",
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    ymc = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym")
    pm = li.groupBy("l_partkey", ymc).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q")
    )
    # CV over the zero-filled part x month grid WITHOUT building the
    # grid (optimization r13, guide §1.2/§2.3): the former
    # crossJoin(months) + left-join produced |parts| x |months| rows
    # (~1.7M at sf0.1) only so absent months could contribute q = 0 —
    # but zeros are additive identities for SUM(q) and SUM(q*q), and
    # the per-part row count nm is the SAME constant |months| for
    # every part (every grid part got every month).  So s1/s2 fold
    # over the sparse pm rows alone and nm arrives as a 1-row
    # broadcast month count: identical integers, identical double
    # casts, two exchanges and a generate stage removed.
    # q is an exact integer LONG, so plain long sums are bit-identical
    # to the former DECIMAL(28,0)/(38,0) sums (same integer, same
    # nearest-double cast) while staying inside whole-stage codegen —
    # the wide-decimal buffers paid a per-row BigDecimal add over the
    # part x month grid (r9, the fixed6 lesson).  Overflow bound is
    # per part: months_per_part * max(q)^2 ~ 1e2 * 1e14 at extreme
    # scale, far under 2^63.
    nmonths = li.select(ymc).distinct().agg(
        F.count(F.lit(1)).alias("nm")
    )
    nm = F.col("nm")
    s1 = F.col("s1")
    s2 = F.col("s2")
    cv = F.sqrt(s2 / nm - (s1 / nm) * (s1 / nm)) / (s1 / nm)
    xyz = (
        pm.groupBy("l_partkey")
        .agg(
            F.sum("q").cast("double").alias("s1"),
            F.sum(F.col("q") * F.col("q")).cast("double").alias("s2"),
        )
        .crossJoin(F.broadcast(nmonths))
        .select(
            "l_partkey",
            F.when(cv < 0.5, "X")
            .when(cv < 1.0, "Y")
            .otherwise("Z")
            .alias("xyz_class"),
        )
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum(rev_dec).cast("double"), 2).alias("revenue"),
            F.round(
                F.sum(rev_dec).cast("double") / total_lit.cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


_GROWTH_Y1 = 1996
_GROWTH_Y2 = 1997


@register(
    "revenue_growth_decomposition",
    oracle=f"""
WITH yr AS (
  SELECT p_brand AS brand,
         CAST(SUM(CASE WHEN year(l_shipdate) = {_GROWTH_Y1}
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN year(l_shipdate) = {_GROWTH_Y2}
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q2,
         SUM(CASE WHEN year(l_shipdate) = {_GROWTH_Y1}
                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS r1,
         SUM(CASE WHEN year(l_shipdate) = {_GROWTH_Y2}
                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS r2
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE year(l_shipdate) IN ({_GROWTH_Y1}, {_GROWTH_Y2})
  GROUP BY 1
),
px AS (
  SELECT brand, q1, q2,
         CAST(COALESCE(r1, 0) AS DOUBLE) AS r1,
         CAST(COALESCE(r2, 0) AS DOUBLE) AS r2,
         CASE WHEN q1 > 0 THEN CAST(r1 AS DOUBLE) / q1 END AS p1,
         CASE WHEN q2 > 0 THEN CAST(r2 AS DOUBLE) / q2 END AS p2
  FROM yr
)
SELECT brand, q1, q2,
       round(r1, 2) AS revenue_y1,
       round(r2, 2) AS revenue_y2,
       round(r2 - r1, 2) AS total_change,
       round(CASE WHEN p1 IS NOT NULL THEN (q2 - q1) * p1 ELSE r2 END, 2)
         AS volume_effect,
       round(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL
                  THEN (p2 - p1) * q2
                  WHEN p1 IS NOT NULL AND p2 IS NULL THEN -0.0
                  ELSE 0.0 END + 0.0, 2) AS price_effect
FROM px
ORDER BY brand
""",
    doc="Revenue growth decomposition by brand "
    f"({_GROWTH_Y1} -> {_GROWTH_Y2}): total change split into a VOLUME "
    "effect ((q2-q1) * p1, quantity change at old unit price — the "
    "Laspeyres base) and a PRICE effect ((p2-p1) * q2, realized-price "
    "change on new volume — Paasche weighting), which sum exactly to "
    "the total by construction — the FP&A bridge that answers 'did we "
    "sell MORE or sell DEARER' per brand, which "
    "monthly_revenue_mom's single delta cannot.  Unit prices are "
    "realized (revenue/quantity), division of exact decimals by exact "
    "integer quantities in identical order; brand disappearance/"
    "appearance edge cases are CASE-guarded identically (a brand with "
    "no y1 sales books everything as volume).  Scale shape: one "
    "broadcast part join, one brand-year conditional aggregation, "
    "arithmetic on 25 rows.",
    tags=("relational", "agg", "mining"),
)
def revenue_growth_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(_GROWTH_Y1, _GROWTH_Y2)
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(p, li.l_partkey == p.p_partkey)
    in_y = lambda y: F.year("l_shipdate") == y  # noqa: E731
    yr = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.sum(
            F.when(in_y(_GROWTH_Y1), F.col("l_quantity").cast("long"))
            .otherwise(0)
        )
        .cast("long")
        .alias("q1"),
        F.sum(
            F.when(in_y(_GROWTH_Y2), F.col("l_quantity").cast("long"))
            .otherwise(0)
        )
        .cast("long")
        .alias("q2"),
        F.sum(
            F.when(
                in_y(_GROWTH_Y1),
                F.col("l_extendedprice").cast("decimal(18,2)"),
            )
        ).alias("r1d"),
        F.sum(
            F.when(
                in_y(_GROWTH_Y2),
                F.col("l_extendedprice").cast("decimal(18,2)"),
            )
        ).alias("r2d"),
    )
    px = yr.select(
        "brand",
        "q1",
        "q2",
        F.coalesce(F.col("r1d"), F.lit(0)).cast("double").alias("r1"),
        F.coalesce(F.col("r2d"), F.lit(0)).cast("double").alias("r2"),
        F.when(
            F.col("q1") > 0, F.col("r1d").cast("double") / F.col("q1")
        ).alias("p1"),
        F.when(
            F.col("q2") > 0, F.col("r2d").cast("double") / F.col("q2")
        ).alias("p2"),
    )
    return px.select(
        "brand",
        "q1",
        "q2",
        F.round(F.col("r1"), 2).alias("revenue_y1"),
        F.round(F.col("r2"), 2).alias("revenue_y2"),
        F.round(F.col("r2") - F.col("r1"), 2).alias("total_change"),
        F.round(
            F.when(
                F.col("p1").isNotNull(),
                (F.col("q2") - F.col("q1")) * F.col("p1"),
            ).otherwise(F.col("r2")),
            2,
        ).alias("volume_effect"),
        F.round(
            F.when(
                F.col("p1").isNotNull() & F.col("p2").isNotNull(),
                (F.col("p2") - F.col("p1")) * F.col("q2"),
            )
            .when(
                F.col("p1").isNotNull() & F.col("p2").isNull(),
                F.lit(-0.0),
            )
            .otherwise(F.lit(0.0))
            + F.lit(0.0),
            2,
        ).alias("price_effect"),
    ).orderBy("brand")


_MIG_Y1 = 1996
_MIG_Y2 = 1997
# Spend-band edges in whole k$ (annual): 0 is "inactive".
_MIG_BANDS = (0, 100, 250, 500)


def _mig_band_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} < {b * 1000} THEN '{i}_under_{b}k'"
        for i, b in enumerate(_MIG_BANDS[1:], start=1)
    )
    return (
        f"(CASE WHEN {col} IS NULL OR {col} = 0 THEN '0_inactive' "
        f"{cases} ELSE '{len(_MIG_BANDS)}_over_{_MIG_BANDS[-1]}k' END)"
    )


@register(
    "customer_spend_band_migration",
    oracle=f"""
WITH spend AS (
  SELECT o_custkey,
         SUM(CASE WHEN year(o_orderdate) = {_MIG_Y1}
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s1,
         SUM(CASE WHEN year(o_orderdate) = {_MIG_Y2}
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s2
  FROM orders
  WHERE year(o_orderdate) IN ({_MIG_Y1}, {_MIG_Y2})
  GROUP BY 1
)
SELECT {_mig_band_sql("s1")} AS band_y1,
       {_mig_band_sql("s2")} AS band_y2,
       COUNT(*) AS n_customers,
       round(CAST(SUM(COALESCE(s2, 0)) AS DOUBLE)
             - CAST(SUM(COALESCE(s1, 0)) AS DOUBLE), 2) AS spend_change
FROM spend
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Customer spend-band migration matrix "
    f"({_MIG_Y1} -> {_MIG_Y2}): customers bucketed into fixed annual "
    "spend bands each year (inactive / <100k / <250k / <500k / over), "
    "transition cells counted with the net spend change per cell — "
    "the year-scale upgrade/downgrade/churn movement view that "
    "customer_rfm_segments snapshots cannot show and "
    "user_lifecycle_states shows only at the active/inactive grain.  "
    "FIXED band edges (not quantiles) so a cell means the same thing "
    "every year — the standard choice for migration matrices, and "
    "incidentally fully deterministic: band edges compare exact "
    "decimals to integer literals, zero floats before the final "
    "rounded net change.  Scale shape: one customer-year conditional "
    "aggregation, a <=25-cell readout.",
    tags=("relational", "agg", "mining"),
)
def customer_spend_band_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(_MIG_Y1, _MIG_Y2)
    )
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.year("o_orderdate") == _MIG_Y1,
                F.col("o_totalprice").cast("decimal(18,2)"),
            )
        ).alias("s1"),
        F.sum(
            F.when(
                F.year("o_orderdate") == _MIG_Y2,
                F.col("o_totalprice").cast("decimal(18,2)"),
            )
        ).alias("s2"),
    )

    def band(col: str):
        c = (
            F.when(
                F.col(col).isNull() | (F.col(col) == 0), "0_inactive"
            )
        )
        for i, b in enumerate(_MIG_BANDS[1:], start=1):
            c = c.when(F.col(col) < b * 1000, f"{i}_under_{b}k")
        return c.otherwise(
            f"{len(_MIG_BANDS)}_over_{_MIG_BANDS[-1]}k"
        )

    return (
        spend.groupBy(
            band("s1").alias("band_y1"), band("s2").alias("band_y2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.coalesce(F.col("s2"), F.lit(0))).cast("double")
                - F.sum(F.coalesce(F.col("s1"), F.lit(0))).cast("double"),
                2,
            ).alias("spend_change"),
        )
        .orderBy("band_y1", "band_y2")
    )


_TRIM_PCT_NUM = 5  # trim 5% from each tail
_TRIM_PCT_DEN = 100


@register(
    "trimmed_mean_order_value",
    oracle=f"""
WITH h AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, COUNT(*) AS c
  FROM orders GROUP BY 1
),
cum AS (
  SELECT v, c,
         SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(c) OVER () AS n
  FROM h
),
k AS (
  SELECT CAST(n * {_TRIM_PCT_NUM} / {_TRIM_PCT_DEN} AS BIGINT) AS k,
         CAST(n AS BIGINT) AS n
  FROM cum LIMIT 1
),
interior AS (
  SELECT
    SUM(CAST(greatest(0, least(cc, k.n - k.k)
                         - greatest(cc - c, k.k)) AS DECIMAL(18,0))
        * v) AS int_sum,
    MIN(CASE WHEN cc >= k.k + 1 THEN v END) AS lo_val,
    MIN(CASE WHEN cc >= k.n - k.k THEN v END) AS hi_val
  FROM cum CROSS JOIN k
),
full_sum AS (
  SELECT SUM(CAST(c AS DECIMAL(18,0)) * v) AS s FROM h
)
SELECT k.n AS n_orders, k.k AS k_trimmed_each_side,
       round(CAST(full_sum.s AS DOUBLE) / k.n, 6) AS mean,
       round(CAST(interior.int_sum AS DOUBLE) / (k.n - 2 * k.k), 6)
         AS trimmed_mean_5pct,
       round(CAST(interior.int_sum
                  + k.k * (interior.lo_val + interior.hi_val)
                  AS DOUBLE) / k.n, 6) AS winsorized_mean_5pct
FROM k CROSS JOIN interior CROSS JOIN full_sum
""",
    doc="Exact 5% trimmed and winsorized mean of order value, computed "
    "DISTRIBUTED: collapse to the (value, count) histogram, one "
    "cumulative window over the price-domain-bounded grid, and the "
    "interior mass of each bucket is the exact integer overlap "
    "greatest(0, min(cc, n-k) - max(cc-c, k)) — full buckets, the two "
    "partially-trimmed boundary buckets, and the tails all fall out "
    "of one formula with NO per-row sort (the robust-location "
    "companion to value_outliers_mad: MAD flags outliers, the "
    "trimmed mean reports location immune to them; winsorized "
    "replaces each trimmed tail with k copies of the boundary "
    "value).  Determinism: every quantity is exact integer x exact "
    "decimal until three final rounded divisions.  Scale shape: one "
    "collapse, windows on the bounded grid — the "
    "approx_price_quantiles selection shape applied to L-statistics.",
    tags=("relational", "window", "quantile", "profiling"),
)
def trimmed_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.agg import global_running_sum_with_total

    o = load_table(spark, sf_dir, "orders")
    h = o.groupBy(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    # The (value, count) histogram is order-dimension-sized (o_totalprice
    # is nearly unique), so the cumulative count must be the two-phase
    # range-partitioned prefix sum — a global-ORDER BY window here runs
    # 150k rows/sf0.1 through ONE task and grows linearly with sf.
    cum, n_total = global_running_sum_with_total(h, ["v"], "c", out_name="cc")
    cum = cum.withColumn("n", F.lit(int(n_total)).cast("long"))
    cum = cum.withColumn(
        "k",
        (F.col("n") * _TRIM_PCT_NUM / _TRIM_PCT_DEN).cast("long"),
    )
    interior_rows = F.greatest(
        F.lit(0),
        F.least(F.col("cc"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cc") - F.col("c"), F.col("k")),
    )
    agg = cum.agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max("k").cast("long").alias("k"),
        F.sum(interior_rows.cast("decimal(18,0)") * F.col("v")).alias(
            "int_sum"
        ),
        F.min(
            F.when(F.col("cc") >= F.col("k") + 1, F.col("v"))
        ).alias("lo_val"),
        F.min(
            F.when(F.col("cc") >= F.col("n") - F.col("k"), F.col("v"))
        ).alias("hi_val"),
        F.sum(F.col("c").cast("decimal(18,0)") * F.col("v")).alias(
            "full_sum"
        ),
    )
    return agg.select(
        "n_orders",
        F.col("k").alias("k_trimmed_each_side"),
        F.round(
            F.col("full_sum").cast("double") / F.col("n_orders"), 6
        ).alias("mean"),
        F.round(
            F.col("int_sum").cast("double")
            / (F.col("n_orders") - 2 * F.col("k")),
            6,
        ).alias("trimmed_mean_5pct"),
        F.round(
            (
                F.col("int_sum")
                + F.col("k") * (F.col("lo_val") + F.col("hi_val"))
            ).cast("double")
            / F.col("n_orders"),
            6,
        ).alias("winsorized_mean_5pct"),
    )
