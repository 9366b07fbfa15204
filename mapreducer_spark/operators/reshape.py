"""Pivot, deterministic sampling, percentiles, range join — the
remaining wide-but-shallow relational families (SURVEY.md §2 EXT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducer_spark.functions.agg import dec_sum
from mapreducer_spark.functions.hashes import md5_int64, oracle_md5_int64
from mapreducer_spark.functions.layout import (
    oracle_morton_code,
    oracle_morton_code_nd,
)
from mapreducer_spark.functions.text import ORACLE_TOKEN_LIST_SNIPPET
from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import load_table

_STATUSES = ("F", "O", "P")


@register(
    "pivot_status_revenue",
    oracle=f"""
SELECT
  o_orderpriority,
  {", ".join(
    f"CAST(SUM(CAST(CASE WHEN o_orderstatus = '{s}' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS rev_{s}"
    for s in _STATUSES
  )}
FROM orders
GROUP BY o_orderpriority
""",
    doc="Pivot: order revenue by priority x status (groupBy().pivot() with "
    "explicit value list — never let pivot scan for distinct values at "
    "scale).",
    tags=("agg", "pivot"),
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(dec_sum("o_totalprice"))
    )
    return pivoted.select(
        "o_orderpriority",
        *[F.col(s).alias(f"rev_{s}") for s in _STATUSES],
    )


@register(
    "hash_sampled_orders",
    oracle=f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE {oracle_md5_int64("CAST(o_orderkey AS VARCHAR)")} % 100 < 10
""",
    doc="Deterministic 10% hash sampling — reproducible across engines "
    "and runs, unlike TABLESAMPLE (which is engine-specific RNG). At "
    "scale this is also pushdown-friendly: pure row-local predicate.",
    tags=("sampling",),
)
def hash_sampled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        F.pmod(md5_int64(F.col("o_orderkey").cast("string")), F.lit(100)) < 10
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "price_quantiles",
    oracle="""
SELECT
  o_orderpriority,
  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
  quantile_disc(o_totalprice, 0.25)          AS p25_disc,
  MIN(o_totalprice)                          AS min_price,
  MAX(o_totalprice)                          AS max_price
FROM orders
GROUP BY o_orderpriority
""",
    doc="Exact percentiles (interpolated + discrete) per group. At 100 TB "
    "prefer approx_percentile (t-digest sketch, one pass, mergeable); "
    "exact percentile is the oracle-comparable form.",
    tags=("agg", "quantile"),
)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p25_disc"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "rapid_event_pairs",
    oracle="""
SELECT
  a.user_id,
  a.event_id AS first_id,
  b.event_id AS second_id,
  datediff('second', a.ts, b.ts) AS gap_sec
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL '5 minutes'
 AND a.event_id <> b.event_id
""",
    doc="Range join (equi on user + time-band theta): pairs of events by "
    "the same user within 5 minutes. The equi key makes this a hash "
    "join + residual range filter — scalable; a pure time-range join "
    "would first bucket time to coarse grains and join on the bucket.",
    tags=("join", "range", "events"),
)
def rapid_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
            & (F.col("a.event_id") != F.col("b.event_id")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("first_id"),
            F.col("b.event_id").alias("second_id"),
            (
                F.unix_timestamp(F.col("b.ts")) - F.unix_timestamp(F.col("a.ts"))
            ).cast("long").alias("gap_sec"),
        )
    )


# --------------------------------------------------------------------------
# Round 2: unpivot (wide -> long) and broadcast band join
# --------------------------------------------------------------------------


@register(
    "unpivot_order_metrics",
    oracle="""
WITH per_order AS (
  SELECT
    l_orderkey,
    CAST(COUNT(*) AS DOUBLE)                                    AS n_items,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS total_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_revenue
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey, 'n_items' AS metric, n_items AS metric_value FROM per_order
UNION ALL
SELECT l_orderkey, 'total_qty', total_qty FROM per_order
UNION ALL
SELECT l_orderkey, 'gross_revenue', gross_revenue FROM per_order
""",
    doc="Unpivot / melt (wide -> long): per-order lineitem metrics as "
    "(order, metric, value) rows via DataFrame.unpivot — the inverse of "
    "pivot_status_revenue. Map-side only after the one aggregation "
    "shuffle; the 3x row expansion never re-shuffles.",
    tags=("reshape", "unpivot"),
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_items"),
        dec_sum("l_quantity").alias("total_qty"),
        dec_sum("l_extendedprice").alias("gross_revenue"),
    )
    return per_order.unpivot(
        ids=["l_orderkey"],
        values=["n_items", "total_qty", "gross_revenue"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


# Fixed value tiers — mirrored literally in the oracle VALUES list.
_VALUE_TIERS = (("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e9))


@register(
    "event_value_band_join",
    oracle=f"""
WITH tiers(tier, lo, hi) AS (
  VALUES {", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _VALUE_TIERS)}
)
SELECT
  tier,
  COUNT(*) AS n_events,
  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN tiers ON "value" >= lo AND "value" < hi
GROUP BY tier
""",
    doc="Band (range-interval) join: events joined to a tiny tier table "
    "on value BETWEEN bounds — no equi-key. Spark plans a "
    "BroadcastNestedLoopJoin, the right strategy when one side is a "
    "handful of rows; the fact side never shuffles for the join.",
    tags=("join", "range"),
)
def event_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.inline import inline_rows

    e = load_table(spark, sf_dir, "events")
    tiers = inline_rows(
        spark,
        [(t, float(lo), float(hi)) for t, lo, hi in _VALUE_TIERS],
        ["tier", "lo", "hi"],
    )
    return (
        e.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
    )


# Per-stratum sampling rates (percent) — mirrored literally in the oracle.
_STRATA_PCT = {"1-URGENT": 10, "2-HIGH": 25}
_DEFAULT_PCT = 50


@register(
    "stratified_sample_orders",
    oracle=f"""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE {oracle_md5_int64("CAST(o_orderkey AS VARCHAR)")} % 100 <
  (CASE o_orderpriority
     {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_PCT.items())}
     ELSE {_DEFAULT_PCT} END)
""",
    doc="Stratified deterministic sampling: per-stratum rates via the "
    "same cross-engine hash as hash_sampled_orders — downsample "
    "over-represented strata (the data-mixing primitive for training-"
    "corpus curation). Row-local predicate: no shuffle, pushdown-safe, "
    "reproducible across engines and runs.",
    tags=("sampling", "llm"),
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rate = F.lit(_DEFAULT_PCT)
    for k, v in reversed(_STRATA_PCT.items()):
        rate = F.when(F.col("o_orderpriority") == k, F.lit(v)).otherwise(rate)
    keep = (
        F.pmod(md5_int64(F.col("o_orderkey").cast("string")), F.lit(100)) < rate
    )
    return o.where(keep).select("o_orderkey", "o_orderpriority", "o_totalprice")


def gk_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch twin of approx_price_quantiles (NOT registered).

    approx_percentile is the mergeable one-pass sketch — the natural
    streaming/incremental path — but it is honestly approximate once a
    group exceeds its accuracy parameter (rank error eps = 1e-4 at
    accuracy 10000), so its output is not hash-pinnable at arbitrary n:
    the 10x oracle sweep measured it ~0.01% off the exact order
    statistic (tools/oracle_at_scale.py round-6 finding).  The declared
    query is therefore the EXACT two-phase selection below (stable at
    any scale), and this sketch stays as a tested helper —
    tests/test_llm_ops.py::test_approx_quantiles_bracket_exact brackets
    its rank error against a single-node sort.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "median_approx"
        ),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias(
            "p90_approx"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


_QUANTILE_TAGS = (("median_approx", 0.5), ("p90_approx", 0.9))


@register(
    "approx_price_quantiles",
    # The oracle has ALWAYS pinned the exact ceil(q*n)-th order
    # statistic; through round 6 the Spark side was a GK sketch that is
    # exact only while every group holds < 1/eps rows — true at gate
    # fixtures, false at the 10x sweep, where it was the one documented
    # non-MATCH (VERDICT r6 #6).  The implementation is now the exact
    # distributed selection, so the hash check is scale-STABLE: it
    # matches at any n.  The sketch lives on as gk_price_quantiles
    # (above) with a rank-error bracketing test.
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority ORDER BY o_totalprice
         ) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                THEN o_totalprice END) AS median_approx,
       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                THEN o_totalprice END) AS p90_approx,
       CAST(MAX(n) AS BIGINT) AS n_orders
FROM r GROUP BY o_orderpriority
""",
    doc="EXACT per-group quantiles by two-phase distributed selection — "
    "the scale path when the answer must be hash-stable at any n "
    "(unlike the GK sketch, which drifts within its rank-error band "
    "past 1/eps rows; see gk_price_quantiles).  Phase 1 builds a "
    "unit-width value histogram per group: a map-side-combinable "
    "groupBy whose output is bounded by the PRICE DOMAIN (~600k "
    "buckets), not the row count, then a tiny cumulative window over "
    "|groups x buckets| rows locates the bucket holding rank "
    "ceil(q*n).  Phase 2 re-scans with a broadcast of the ~10 target "
    "buckets, sorts only the rows INSIDE those buckets (at 100 TB: "
    "n/|buckets| ~ tens of thousands of rows per window partition, "
    "never the group), and picks the residual-rank value; "
    "single-valued buckets short-circuit without refinement, so a "
    "pathological point mass costs nothing.  This is the classic "
    "distributed k-selection: two linear scans, no per-group full "
    "sort, no sketch error.",
    tags=("agg", "quantile", "selection"),
)
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    hist = o.groupBy(
        "o_orderpriority", F.floor("o_totalprice").alias("bkt")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    )
    w_cum = Window.partitionBy("o_orderpriority").orderBy("bkt")
    w_all = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "bkt",
        "mn",
        "mx",
        (F.sum("c").over(w_cum) - F.col("c")).alias("before"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    # One spec row per (group, quantile): the bucket containing rank
    # ceil(q*n) and the residual rank inside it.
    specs = []
    for tag, q in _QUANTILE_TAGS:
        k = F.ceil(F.lit(q) * F.col("n")).cast("long")
        specs.append(
            cum.where((F.col("cum") >= k) & (F.col("before") < k)).select(
                "o_orderpriority",
                "bkt",
                "mn",
                "mx",
                "n",
                F.lit(tag).alias("tag"),
                (k - F.col("before")).alias("local_k"),
            )
        )
    spec = specs[0].unionByName(specs[1])
    direct = spec.where(F.col("mn") == F.col("mx")).select(
        "o_orderpriority", "tag", F.col("mn").alias("val"), "n"
    )
    need = spec.where(F.col("mn") != F.col("mx")).select(
        F.col("o_orderpriority").alias("s_prio"),
        "bkt",
        "tag",
        "local_k",
        "n",
    )
    w_rank = Window.partitionBy("s_prio", "tag").orderBy("o_totalprice")
    refined = (
        o.join(
            F.broadcast(need),
            (F.col("o_orderpriority") == F.col("s_prio"))
            & (F.floor("o_totalprice") == F.col("bkt")),
        )
        .select(
            "s_prio",
            "tag",
            "local_k",
            "n",
            "o_totalprice",
            F.row_number().over(w_rank).alias("rn"),
        )
        .where(F.col("rn") == F.col("local_k"))
        .select(
            F.col("s_prio").alias("o_orderpriority"),
            "tag",
            F.col("o_totalprice").alias("val"),
            "n",
        )
    )
    both = direct.unionByName(refined)
    return both.groupBy("o_orderpriority").agg(
        F.max(
            F.when(F.col("tag") == "median_approx", F.col("val"))
        ).alias("median_approx"),
        F.max(F.when(F.col("tag") == "p90_approx", F.col("val"))).alias(
            "p90_approx"
        ),
        F.max("n").alias("n_orders"),
    )


# Mixture weights by source band: sources src0-4 are "high quality"
# (keep all), src5-9 half, src10-14 quarter, src15-19 a tenth — the
# down-weighting shape of training-corpus mixing recipes.
_MIX_BAND_WEIGHTS = (1.0, 0.5, 0.25, 0.1)


def _quota_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, rnk, quota) for the band-weighted exact-quota
    selection — the corpus_mixture_quota CTE factored for reuse by the
    interleave stage."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    band = (F.substring("source", 4, 10).cast("int") / 5).cast("int")
    weight = F.lit(float(_MIX_BAND_WEIGHTS[-1]))
    for i, w in reversed(list(enumerate(_MIX_BAND_WEIGHTS))):
        weight = F.when(band == i, F.lit(w)).otherwise(weight)
    w_src = Window.partitionBy("source")
    w_rnk = Window.partitionBy("source").orderBy(
        md5_int64(F.col("text")), F.col("doc_id")
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.floor(weight * F.count(F.lit(1)).over(w_src)).alias("quota"),
        F.row_number().over(w_rnk).alias("rnk"),
    )
    return ranked.where(F.col("rnk") <= F.col("quota"))


_ORACLE_QUOTA_SELECTED = f"""
ranked AS (
  SELECT
    doc_id,
    source,
    CAST(floor(
      (CASE CAST(substr(source, 4) AS INTEGER) // 5
         {" ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(_MIX_BAND_WEIGHTS))}
         ELSE {_MIX_BAND_WEIGHTS[-1]} END)
      * COUNT(*) OVER (PARTITION BY source)
    ) AS BIGINT) AS quota,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY {oracle_md5_int64("text")}, doc_id
    ) AS rnk
  FROM documents
),
sel AS (SELECT doc_id, source, rnk, quota FROM ranked WHERE rnk <= quota)
"""


@register(
    "corpus_mixture_quota",
    oracle=f"""
WITH {_ORACLE_QUOTA_SELECTED}
SELECT doc_id, source, rnk FROM sel
""",
    doc="EXACT-quota corpus mixing: each source contributes exactly "
    "floor(weight x |source|) documents, selected by a deterministic "
    "content-hash order — the data-mixing primitive when the training "
    "recipe specifies hard per-source budgets (rate-based "
    "stratified_sample_orders hits quotas only in expectation).  "
    "Content-hash ordering makes the selection reproducible across "
    "engines, runs, and partitionings.  The per-source sort is the "
    "scale cost: at 100 TB with few huge sources, swap the window for "
    "the two-phase global ranking in functions/agg.py::global_row_number "
    "applied per source (same output, distributed sort).",
    tags=("sampling", "llm", "window"),
)
def corpus_mixture_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quota_selected(spark, sf_dir).select("doc_id", "source", "rnk")


@register(
    "corpus_weighted_interleave",
    oracle=f"""
WITH {_ORACLE_QUOTA_SELECTED}
SELECT
  ROW_NUMBER() OVER (
    ORDER BY CAST(2 * rnk - 1 AS DOUBLE) / (2 * quota), source
  ) AS global_pos,
  doc_id, source, rnk
FROM sel
""",
    doc="Weighted multi-source interleave with exact quotas (VERDICT r3 "
    "#5): after the exact-quota selection, each source's r-th document "
    "gets the stride-scheduling key (2r-1)/(2*quota), and the single "
    "global training order is the sort over that key — any prefix of "
    "the stream holds each source in ~quota proportion (within one doc "
    "per source), which is what curriculum/mixture training loops "
    "need from a corpus shuffle.  The key is an exact IEEE double "
    "division identical across engines; the global order is produced "
    "by the two-phase distributed ranking (range partition + offsets), "
    "never a single-partition window.",
    tags=("sampling", "llm", "window"),
)
def corpus_weighted_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.agg import global_row_number

    sel = _quota_selected(spark, sf_dir).withColumn(
        "__ikey", (2 * F.col("rnk") - 1) / (2 * F.col("quota"))
    )
    ordered = global_row_number(
        sel, ["__ikey", "source"], out_name="global_pos"
    )
    return ordered.select(
        F.col("global_pos").cast("long").alias("global_pos"),
        "doc_id",
        "source",
        "rnk",
    )


@register(
    "zorder_codes",
    oracle=f"""
WITH s AS (
  SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
         MIN(o_totalprice) AS ymin, MAX(o_totalprice) AS ymax
  FROM orders
)
SELECT
  o_orderkey,
  {oracle_morton_code(
      "COALESCE(CAST(floor((CAST(o_custkey AS DOUBLE) - xmin) * 65535.0"
      " / NULLIF(CAST(xmax AS DOUBLE) - xmin, 0)) AS BIGINT), 0)",
      "COALESCE(CAST(floor((o_totalprice - ymin) * 65535.0"
      " / NULLIF(ymax - ymin, 0)) AS BIGINT), 0)",
  )} AS zcode
FROM orders, s
""",
    doc="Z-order (Morton) interleave codes over min-max-NORMALIZED "
    "(custkey, totalprice) — the sort key behind multi-dimensional "
    "data clustering (OPTIMIZE ZORDER).  Normalization matters: raw "
    "columns of different bit-widths let one dimension dominate the "
    "sort and the other gets zero locality (caught by the layout "
    "test).  Rows sorted by this code land in files narrow in BOTH "
    "dimensions, so predicates on either column prune row groups via "
    "parquet min/max statistics (write path: sources/ingest.py::"
    "write_zordered).  One tiny stats agg broadcast back + per-row bit "
    "arithmetic; identical in DuckDB.",
    tags=("layout", "reshape"),
)
def zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.layout import morton_code, normalize_16bit

    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").alias("xmin"),
        F.max("o_custkey").alias("xmax"),
        F.min("o_totalprice").alias("ymin"),
        F.max("o_totalprice").alias("ymax"),
    )
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        morton_code(
            normalize_16bit(F.col("o_custkey"), F.col("xmin"), F.col("xmax")),
            normalize_16bit(
                F.col("o_totalprice"), F.col("ymin"), F.col("ymax")
            ),
        ).alias("zcode"),
    )


_PACK_CONTEXT = 2048  # tokens per training sequence


@register(
    "sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({ORACLE_TOKEN_LIST_SNIPPET}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) - n_tokens AS start
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(start // {_PACK_CONTEXT} AS BIGINT) AS seq_id,
       CAST(start % {_PACK_CONTEXT} AS BIGINT) AS seq_offset,
       (start % {_PACK_CONTEXT}) + n_tokens > {_PACK_CONTEXT}
         AS crosses_boundary
FROM c
""",
    doc=f"Training-sequence packing (the concat-and-split recipe real "
    f"LLM pipelines use): documents concatenated in doc_id order into a "
    f"single token stream cut every {_PACK_CONTEXT} tokens; each doc "
    "reports the sequence its first token lands in, its offset there, "
    "and whether it straddles a cut.  The global running token sum is "
    "the scale-critical part — computed with the two-phase "
    "range-partition + per-partition-totals pattern "
    "(functions/agg.py::global_running_sum), NEVER a single-partition "
    "global window; the oracle is the equivalent SQL running-sum "
    "window.  Token counts use the pinned Unicode tokenizer.",
    tags=("llm", "reshape", "window"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.agg import global_running_sum
    from mapreducer_spark.functions.text import SPARK_TOKEN_SPLIT_RE

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), SPARK_TOKEN_SPLIT_RE)
    n_tokens = F.size(F.filter(toks, lambda t: F.length(t) > 0)).cast("long")
    counted = d.select("doc_id", n_tokens.alias("n_tokens"))
    summed = global_running_sum(
        counted, ["doc_id"], "n_tokens", out_name="__cum"
    )
    start = F.col("__cum") - F.col("n_tokens")
    c = F.lit(_PACK_CONTEXT).cast("long")
    return summed.select(
        "doc_id",
        "n_tokens",
        # floor-div, not double-div + cast: Spark's long/long is double
        # division and DuckDB's CAST(double AS BIGINT) rounds — floor on
        # one side and // on the other pin the same integer semantics.
        F.floor(start / c).cast("long").alias("seq_id"),
        F.pmod(start, c).cast("long").alias("seq_offset"),
        (F.pmod(start, c) + F.col("n_tokens") > c).alias("crosses_boundary"),
    )


def _z3_norm_sql(col: str, i: int) -> str:
    return (
        f"COALESCE(CAST(floor((CAST({col} AS DOUBLE) - mn{i}) * 65535.0"
        f" / NULLIF(CAST(mx{i} AS DOUBLE) - mn{i}, 0)) AS BIGINT), 0)"
    )


@register(
    "zorder_codes_3d",
    oracle=f"""
WITH s AS (
  SELECT MIN(l_partkey) AS mn0, MAX(l_partkey) AS mx0,
         MIN(l_suppkey) AS mn1, MAX(l_suppkey) AS mx1,
         MIN(l_quantity) AS mn2, MAX(l_quantity) AS mx2
  FROM lineitem
)
SELECT
  l_orderkey,
  l_linenumber,
  {oracle_morton_code_nd(
      [_z3_norm_sql("l_partkey", 0),
       _z3_norm_sql("l_suppkey", 1),
       _z3_norm_sql("l_quantity", 2)],
      16,
  )} AS zcode
FROM lineitem, s
""",
    doc="3-D Z-order (Morton) codes over min-max-normalized (partkey, "
    "suppkey, quantity) — the n-dimensional generalization of "
    "zorder_codes (VERDICT r4 #4): dimension-major bit interleave, 16 "
    "bits per dimension in a 48-bit code.  Write path: "
    "sources/ingest.py::ingest_warehouse_zordered clusters lineitem by "
    "exactly this code; per-file range narrowing in all three "
    "dimensions is asserted in tests/test_metrics_and_ingest.py.",
    tags=("layout", "reshape"),
)
def zorder_codes_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.functions.layout import morton_code_nd, normalize_bits

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_partkey", "l_suppkey", "l_quantity"]
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(c).alias(f"mn{i}"))
        aggs.append(F.max(c).alias(f"mx{i}"))
    stats = li.agg(*aggs)
    return li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        morton_code_nd(
            [
                normalize_bits(
                    F.col(c), F.col(f"mn{i}"), F.col(f"mx{i}"), 16
                )
                for i, c in enumerate(cols)
            ],
            16,
        ).alias("zcode"),
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-Res)
# --------------------------------------------------------------------------

_WRS_N = 100
_WRS_UMOD = 1 << 30  # 30-bit uniform from the cross-engine hash


@register(
    "weighted_sample_orders",
    oracle=f"""
WITH keyed AS (
  SELECT o_orderkey, o_totalprice,
         round(
           ln(CAST(({oracle_md5_int64("CAST(o_orderkey AS VARCHAR)")}
                    % {_WRS_UMOD}) + 1 AS DOUBLE) / {_WRS_UMOD + 1})
           / CAST(o_totalprice AS DOUBLE), 9) + 0.0 AS sample_key
  FROM orders
)
SELECT o_orderkey, o_totalprice, sample_key FROM (
  SELECT o_orderkey, o_totalprice, sample_key,
         ROW_NUMBER() OVER (ORDER BY sample_key DESC, o_orderkey) AS rn
  FROM keyed
) WHERE rn <= {_WRS_N}
""",
    doc="Weighted sampling WITHOUT replacement (Efraimidis & Spirakis "
    "2006, A-Res): each order draws a deterministic uniform "
    "u = (md5_int64(orderkey) mod 2^30 + 1)/(2^30+1) and competes with "
    "key = ln(u)/weight (monotone twin of u^(1/w)); the top-N keys ARE "
    "the weighted sample, here weighted by o_totalprice so expensive "
    "orders are proportionally likelier — the exact primitive used to "
    "build importance-weighted training mixtures (DSIR resampling, "
    "domain upweighting) at corpus scale.  Scale shape: key assignment "
    "is a pure map; top-N is orderBy+limit = TakeOrderedAndProject "
    "(per-partition heaps of N, driver merges N*partitions rows — no "
    "global sort, no single-partition window); deterministic reruns "
    "because the 'randomness' is a content hash, exactly like "
    "hash_sampled_orders.  Keys round to 9 dp before ranking (ties -> "
    "orderkey) so the float ln/divide can't flip the cross-engine "
    "order.",
    tags=("sample", "llm"),
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    u = (
        (md5_int64(F.col("o_orderkey").cast("string")) % _WRS_UMOD) + 1
    ).cast("double") / F.lit(float(_WRS_UMOD + 1))
    # + 0.0 canonicalizes IEEE negative zero (round(-1e-12, 9) -> -0.0 in
    # one engine, 0.0 in the other; -0.0 + 0.0 == +0.0 in both).
    key = F.round(F.log(u) / F.col("o_totalprice").cast("double"), 9) + F.lit(0.0)
    return (
        o.select("o_orderkey", "o_totalprice", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), "o_orderkey")
        .limit(_WRS_N)
    )


# chi-square(0.95, df=4): sample-vs-population priority mix.
_SAMPLE_CHISQ_CRIT_4 = 9.488


@register(
    "sample_bias_chisq",
    oracle=f"""
WITH pop AS (
  SELECT o_orderpriority AS pri, COUNT(*) AS c_full FROM orders GROUP BY 1
),
nf AS (SELECT SUM(c_full) AS n_full FROM pop),
samp AS (
  SELECT o_orderpriority AS pri, COUNT(*) AS c_s
  FROM orders
  WHERE {oracle_md5_int64("CAST(o_orderkey AS VARCHAR)")} % 100 < 10
  GROUP BY 1
),
ns AS (SELECT SUM(c_s) AS n_s FROM samp),
terms AS (
  SELECT pop.pri,
         CAST(COALESCE(samp.c_s, 0) AS BIGINT) AS c_s,
         CAST(ns.n_s AS DOUBLE) * CAST(pop.c_full AS DOUBLE)
           / CAST(nf.n_full AS DOUBLE) AS e
  FROM pop LEFT JOIN samp ON samp.pri = pop.pri
  CROSS JOIN nf CROSS JOIN ns
)
SELECT CAST(MAX(n_s) AS BIGINT) AS n_sampled,
       CAST(MAX(n_full) AS BIGINT) AS n_full,
       CAST(COUNT(*) - 1 AS BIGINT) AS df,
       round(CAST(SUM(CAST(round((c_s - e) * (c_s - e) / e, 8)
                           AS DECIMAL(28,8))) AS DOUBLE), 6) AS chi2,
       CAST({_SAMPLE_CHISQ_CRIT_4} AS DOUBLE) AS crit_95,
       CAST(SUM(CAST(round((c_s - e) * (c_s - e) / e, 8)
                     AS DECIMAL(28,8))) AS DOUBLE)
         > {_SAMPLE_CHISQ_CRIT_4} AS biased
FROM terms CROSS JOIN nf CROSS JOIN ns
""",
    doc="Sampler bias audit: chi-square goodness-of-fit of the 10% "
    "hash sample's priority mix against the full-table proportions — "
    "the engine auditing ITS OWN sampling primitive "
    "(hash_sampled_orders); a deterministic hash keyed on an id "
    "UNCORRELATED with the stratum should pass, and this query is "
    "the regression test that keeps it honest if the hash or key "
    "ever changes (a hash on a priority-correlated key would light "
    "up here).  Expected counts scale full-table proportions to the "
    "realized sample size, so the test isolates COMPOSITION bias "
    "from rate noise.  Determinism: identical-order double folds of "
    "exact counts, 8dp-rounded terms into a decimal sum, literal "
    "critical value (df=4).  Scale shape: two aggregations of the "
    "same scan (one filtered by the pushdown-friendly hash "
    "predicate), everything else on 5 rows.",
    tags=("sampling", "profiling", "agg"),
)
def sample_bias_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    full = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("c_full")
    )
    nf = full.agg(F.sum("c_full").alias("n_full"))
    samp = (
        o.where(
            F.pmod(
                md5_int64(F.col("o_orderkey").cast("string")), F.lit(100)
            )
            < 10
        )
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    ns = samp.agg(F.sum("c_s").alias("n_s"))
    e = (
        F.col("n_s").cast("double")
        * F.col("c_full").cast("double")
        / F.col("n_full").cast("double")
    )
    terms = (
        full.join(samp, "pri", "left")
        .crossJoin(F.broadcast(nf))
        .crossJoin(F.broadcast(ns))
        .select(
            "n_s",
            "n_full",
            F.coalesce(F.col("c_s"), F.lit(0)).cast("long").alias("c_s"),
            e.alias("e"),
        )
    )
    t = F.round(
        (F.col("c_s") - F.col("e")) * (F.col("c_s") - F.col("e"))
        / F.col("e"),
        8,
    ).cast("decimal(28,8)")
    return terms.agg(
        F.max("n_s").cast("long").alias("n_sampled"),
        F.max("n_full").cast("long").alias("n_full"),
        (F.count(F.lit(1)) - 1).cast("long").alias("df"),
        F.round(F.sum(t).cast("double"), 6).alias("chi2"),
        F.lit(_SAMPLE_CHISQ_CRIT_4).alias("crit_95"),
        (F.sum(t).cast("double") > _SAMPLE_CHISQ_CRIT_4).alias("biased"),
    )


# Poisson(1) inverse-CDF thresholds for the hash-bootstrap row weights
# (cumulative e^-1 * 1/k! — enough mass for P(w<=6) ~ 0.9999917).
_BOOT_THRESH = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406)
_BOOT_B = 50  # replicates


def _boot_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {i}" for i, t in enumerate(_BOOT_THRESH)
    )
    return f"(CASE {branches} ELSE 6 END)"


@register(
    "bootstrap_revenue_ci",
    oracle=f"""
WITH hashed AS (
  SELECT o_totalprice,
         {oracle_md5_int64("CAST(o_orderkey AS VARCHAR)")}
           % 2147483647 AS h31
  FROM orders
),
fan AS (
  SELECT o_totalprice, b.b,
         CAST(((h31 + b.b * 2654435761) % 2147483647) * 48271
              % 2147483647 AS DOUBLE) / 2147483647 AS u
  FROM hashed CROSS JOIN generate_series(1, {_BOOT_B}) AS b(b)
),
rep AS (
  SELECT b,
         round(CAST(SUM(CAST(o_totalprice * {_boot_w_sql("u")}
                             AS DECIMAL(18,2))) AS DOUBLE)
               / SUM({_boot_w_sql("u")}), 6) AS m
  FROM fan GROUP BY b
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM rep
),
full_mean AS (
  SELECT round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS mu
  FROM orders
)
SELECT {_BOOT_B} AS n_replicates,
       (SELECT mu FROM full_mean) AS full_mean,
       round(CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS boot_mean,
       (SELECT m FROM ranked WHERE rn = 2) AS ci_lo_95,
       (SELECT m FROM ranked WHERE rn = {_BOOT_B - 1}) AS ci_hi_95
FROM rep
""",
    doc="Hash-deterministic Poisson bootstrap CI for mean order value "
    f"(Efron's bootstrap in its streaming multinomial~Poisson(1) "
    f"approximation, {_BOOT_B} replicates): each row's weight in "
    "replicate b is the Poisson(1) inverse CDF of a uniform derived "
    "from md5(orderkey:b) — REPRODUCIBLE resampling, no RNG state, "
    "the same replicate on any cluster topology (the "
    "hash_sampled_orders philosophy extended to uncertainty "
    "quantification; this is what a 100 TB pipeline uses instead of "
    "collect-and-scipy).  CI bounds are type-1 quantile picks (ranks "
    f"2 and {_BOOT_B - 1}) of the rounded replicate means with a "
    "replicate-id tie-break.  Determinism: weights are exact "
    "integers from exact hash buckets; replicate means are decimal "
    "sums over weighted decimals rounded once.  Scale shape: one "
    f"{_BOOT_B}-way fan-out scan (linear), {_BOOT_B} map-side-"
    "combined partial aggregations in ONE shuffle, ranking on "
    f"{_BOOT_B} rows.",
    tags=("sampling", "profiling", "mining"),
)
def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    hashed = o.select(
        "o_totalprice",
        F.pmod(
            md5_int64(F.col("o_orderkey").cast("string")),
            F.lit(2147483647),
        ).alias("h31"),
    )
    # ONE md5 per row; per-replicate uniforms via an exact-integer
    # Lehmer step on an additively-mixed seed (h31 + b*2654435761 then
    # *48271, both mod 2^31-1 — products stay far below 2^63 so the
    # arithmetic is exact on both engines).  The first cut hashed
    # md5(orderkey:b) per (row x replicate) and its per-row cost was
    # FLAT at ~14 us/row across the 1000x probe spread — 50 md5s per
    # row was the whole query.
    fan = hashed.select(
        "o_totalprice",
        "h31",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    ).withColumn(
        "u",
        F.pmod(
            F.pmod(
                F.col("h31") + F.col("b") * F.lit(2654435761),
                F.lit(2147483647),
            )
            * F.lit(48271),
            F.lit(2147483647),
        ).cast("double")
        / F.lit(2147483647.0),
    )
    w = F.lit(6)
    for i, t in reversed(list(enumerate(_BOOT_THRESH))):
        w = F.when(F.col("u") < t, F.lit(i)).otherwise(w)
    # The B x n weighted sum is the query's hot loop (~45M terms at
    # sf0.1): the former per-term DECIMAL(18,2) cast + DECIMAL(28,2)
    # accumulator paid a JVM BigDecimal per term outside codegen (r9,
    # the fixed6 lesson).  price*w is an EXACT 2dp value (integer
    # weight x 2dp money) carried in a double within ~1e-10 of it, so
    # floor(x*1e6+0.5) quantization provably equals the decimal cast —
    # no tie can exist at the 3rd decimal — and the scaled-long
    # partial-sum path is bit-identical to the old recipe AND to the
    # unchanged DuckDB oracle.
    from mapreducer_spark.functions.agg import (
        fixed6_finalize,
        fixed6_quantize,
    )

    scaled = fan.withColumn("w", w).select(
        "b",
        fixed6_quantize(F.col("o_totalprice") * F.col("w")).alias("q"),
        F.col("w"),
    )
    part = scaled.groupBy("b", F.spark_partition_id().alias("__pid")).agg(
        F.sum("q").alias("q"), F.sum("w").alias("sw")
    )
    rep = part.groupBy("b").agg(
        F.round(
            fixed6_finalize("q") / F.sum("sw"),
            6,
        ).alias("m")
    )
    rep = checkpoint_inspected(rep, "bootstrap_revenue_ci.rep")
    ranked = rep.select(
        "m",
        F.row_number()
        .over(Window.orderBy("m", "b"))
        .alias("rn"),
    )
    lo = ranked.where(F.col("rn") == 2).select(
        F.col("m").alias("ci_lo_95")
    )
    hi = ranked.where(F.col("rn") == _BOOT_B - 1).select(
        F.col("m").alias("ci_hi_95")
    )
    full_mean = o.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("full_mean")
    )
    boot_mean = rep.agg(
        F.round(
            F.sum(F.col("m").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("boot_mean")
    )
    return (
        spark.range(1)
        .select(F.lit(_BOOT_B).alias("n_replicates"))
        .crossJoin(F.broadcast(full_mean))
        .crossJoin(F.broadcast(boot_mean))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
    )
