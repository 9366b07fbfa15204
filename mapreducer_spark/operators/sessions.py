"""Sessionization and time-series composites (SURVEY.md §2.9 / §2.6).

``event_sessions`` re-expresses session windows with lag + cumulative
sum — the classic gaps-and-islands formulation.  Unlike
``session_window()`` (rows-only check), this form IS SQL-expressible, so
sessionization semantics get hash-checked against the oracle:

    new_session = (ts - lag(ts) > gap)            per user
    session_id  = running sum of new_session      per user

Cost: one shuffle on user_id + per-partition sort — identical to the
built-in session_window plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducer_spark.functions.agg import dec_sum
from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import load_table

_GAP_MIN = 30


@register(
    "event_sessions",
    oracle=f"""
WITH flagged AS (
  SELECT
    user_id, event_id, ts, "value",
    CASE WHEN ts - LAG(ts) OVER w > INTERVAL '{_GAP_MIN} minutes'
         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT *,
    CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_id
  FROM flagged
)
SELECT
  user_id,
  session_id,
  COUNT(*) AS n_events,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sessioned
GROUP BY user_id, session_id
""",
    doc="Sessionization via gaps-and-islands (lag + running sum) — the "
    "oracle-checkable twin of session_window (30-min gap).",
    tags=("events", "window", "session"),
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.expr(f"INTERVAL {_GAP_MIN} MINUTES")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > gap),
        F.lit(1),
    ).otherwise(F.lit(0))
    # Two steps: window functions can't nest (lag inside sum-over).
    flagged = e.select(
        "user_id", "event_id", "ts", "value", new_session.alias("new_session")
    )
    sessioned = flagged.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum("new_session").over(wrun).alias("session_id"),
    )
    return sessioned.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        dec_sum("value").alias("total_value"),
    )


@register(
    "monthly_revenue_mom",
    oracle="""
WITH monthly AS (
  SELECT
    strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  GROUP BY 1
)
SELECT
  month,
  revenue,
  round(revenue - LAG(revenue) OVER (ORDER BY month), 2)       AS mom_delta,
  round(100.0 * (revenue - LAG(revenue) OVER (ORDER BY month))
        / LAG(revenue) OVER (ORDER BY month), 6)               AS mom_pct
FROM monthly
""",
    doc="Time-series composite: monthly rollup + month-over-month delta "
    "and percent change (agg -> window over the aggregate).",
    tags=("agg", "window", "timeseries"),
)
def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month"
        )
    ).agg(dec_sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("mom_delta"),
        F.round(F.lit(100.0) * (F.col("revenue") - prev) / prev, 6).alias(
            "mom_pct"
        ),
    )


@register(
    "latest_event_per_user",
    oracle="""
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
)
WHERE rn = 1
""",
    doc="Changelog compaction / keep-latest-per-key (upsert semantics): "
    "row_number over (key, time desc) = 1.",
    tags=("events", "window", "compaction"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


# --------------------------------------------------------------------------
# Round 2: SCD2 (slowly-changing-dimension type 2) interval construction
# --------------------------------------------------------------------------


@register(
    "scd2_event_type_history",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT
  user_id,
  event_type,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
  strftime(
    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
    '%Y-%m-%d %H:%M:%S'
  ) AS valid_to
FROM changes
""",
    doc="SCD2 history build: collapse each user's event stream into "
    "(event_type, valid_from, valid_to) validity intervals — a new "
    "interval opens when the type changes (lag), closes at the next "
    "change (lead), open-ended = NULL. The incremental-dimension pattern: "
    "one shuffle on user_id, two window passes, no self-join.",
    tags=("events", "window", "scd2"),
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
    )


@register(
    "open_orders_timeline",
    oracle="""
WITH spans AS (
  SELECT o.o_orderkey,
         CAST(date_trunc('day', o.o_orderdate) AS DATE) AS start_day,
         CAST(date_trunc('day', MAX(l.l_shipdate)) AS DATE) AS close_day
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
opened AS (
  SELECT start_day AS report_day, COUNT(*) AS n_opened FROM spans GROUP BY 1
),
closed AS (
  SELECT close_day AS report_day, COUNT(*) AS n_closed FROM spans GROUP BY 1
),
merged AS (
  SELECT COALESCE(o.report_day, c.report_day) AS report_day,
         COALESCE(o.n_opened, 0) AS n_opened,
         COALESCE(c.n_closed, 0) AS n_closed
  FROM opened o FULL OUTER JOIN closed c ON o.report_day = c.report_day
)
SELECT report_day, n_opened, n_closed,
       CAST(SUM(n_opened - n_closed) OVER (
         ORDER BY report_day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_at_eod
FROM merged
""",
    doc="Open-orders backlog timeline (sweep-line interval counting): "
    "each order is open from its order day until its last lineitem "
    "ships; +1/-1 day deltas merge into a per-day ledger whose running "
    "sum is the end-of-day backlog — the interval-overlap count that "
    "would be quadratic as a range join, done as two dimension-sized "
    "aggs + one |days|-row cumulative window.  An order closing on "
    "day D is not open at D's EOD.",
    tags=("relational", "window-time", "profiling"),
)
def open_orders_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("day", "o_orderdate").cast("date").alias("start_day"),
            F.date_trunc("day", "last_ship").cast("date").alias("close_day"),
        )
    )
    opened = spans.groupBy(F.col("start_day").alias("report_day")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    closed = spans.groupBy(F.col("close_day").alias("report_day")).agg(
        F.count(F.lit(1)).alias("n_closed")
    )
    merged = opened.join(closed, "report_day", "full_outer").select(
        "report_day",
        F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
    )
    w = (
        Window.orderBy("report_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return merged.select(
        "report_day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("long")
        .alias("open_at_eod"),
    )


@register(
    "customer_reorder_intervals",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              LAG(CAST(date_trunc('day', o_orderdate) AS DATE)) OVER w,
              CAST(date_trunc('day', o_orderdate) AS DATE)) AS BIGINT)
           AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT
  COUNT(DISTINCT o_custkey) AS n_repeat_customers,
  COUNT(*) AS n_intervals,
  CAST(MIN(gap_days) AS BIGINT) AS min_days,
  CAST(MAX(gap_days) AS BIGINT) AS max_days,
  round(CAST(SUM(CAST(gap_days AS DECIMAL(18,0))) AS DOUBLE)
        / COUNT(*), 4) AS avg_days_between
FROM seq WHERE gap_days IS NOT NULL
""",
    doc="Repeat-purchase cadence: per-customer consecutive order-date "
    "gaps (lag over the order sequence), summarized as repeat-customer "
    "count, interval count, min/max, and decimal-exact mean days "
    "between orders — the retention metric behind replenishment and "
    "win-back timing.  One customer-keyed window + one global agg.",
    tags=("relational", "window", "profiling"),
)
def customer_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day = F.date_trunc("day", "o_orderdate").cast("date")
    gap = F.datediff(day, F.lag(day).over(w)).cast("long")
    seq = o.select("o_custkey", gap.alias("gap_days")).where(
        F.col("gap_days").isNotNull()
    )
    return seq.agg(
        F.countDistinct("o_custkey").alias("n_repeat_customers"),
        F.count(F.lit(1)).alias("n_intervals"),
        F.min("gap_days").alias("min_days"),
        F.max("gap_days").alias("max_days"),
        F.round(
            F.sum(F.col("gap_days").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_days_between"),
    )


_ACF_LAGS = (1, 2, 3, 7, 14)


@register(
    "daily_revenue_autocorrelation",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
st AS (
  SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mu FROM daily
),
z AS (
  SELECT day, (CAST(rev AS DOUBLE) - st.mu) / st.mu AS z
  FROM daily CROSS JOIN st
),
den AS (
  SELECT CAST(SUM(CAST(round(z * z, 10) AS DECIMAL(28,10))) AS DOUBLE) AS d
  FROM z
),
lagged AS (
  SELECT l.lag AS lag, z0.z AS z0, zk.z AS zk
  FROM z z0
  CROSS JOIN (SELECT UNNEST([{", ".join(str(k) for k in _ACF_LAGS)}]) AS lag) l
  JOIN z zk ON zk.day = z0.day + l.lag
)
SELECT lag, COUNT(*) AS n_pairs,
       round(CAST(SUM(CAST(round(z0 * zk, 10) AS DECIMAL(28,10)))
                  AS DOUBLE) / den.d, 6) AS acf
FROM lagged CROSS JOIN den
GROUP BY lag, den.d
ORDER BY lag
""",
    doc="Autocorrelation function of the daily order-revenue series at "
    f"lags {_ACF_LAGS} — the stationarity / weekly-seasonality "
    "diagnostic behind forecast_revenue and events_dow_seasonality (a "
    "spike at lag 7 is the weekly cycle; slow decay says trend, not "
    "noise).  Determinism recipe: the per-day revenue collapse is an "
    "exact DECIMAL sum; the mean-normalized deviation z = (x - mu)/mu "
    "is computed in DOUBLE from exactly-cast inputs with the identical "
    "fold order on both engines (mu-normalizing keeps every downstream "
    "magnitude O(1), so the 10dp-rounded z-products sum as DECIMAL far "
    "below the 2^53 cast cliff at ANY revenue scale — the series "
    "rescales out); the classic ACF denominator sum(z_t^2) over ALL "
    "days is shared across lags.  Scale shape: ONE shuffle collapses "
    "the fact table to a dimension-sized (~2400-row) series; the lag "
    "join, moment folds, and 5-way lag fan-out all run on that tiny "
    "frame — at 100 TB the cost is the scan, exactly as it should be.",
    tags=("relational", "timeseries", "agg"),
)
def daily_revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    st = daily.agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    z = daily.crossJoin(F.broadcast(st)).select(
        "day",
        ((F.col("rev").cast("double") - F.col("mu")) / F.col("mu")).alias(
            "z"
        ),
    )
    # The series is dimension-sized; pin it so the lag join and the
    # denominator fold reuse one computation instead of re-collapsing
    # the fact table per branch.
    z = checkpoint_inspected(z, "daily_revenue_autocorrelation.z")
    den = z.agg(
        F.sum(
            F.round(F.col("z") * F.col("z"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("d")
    )
    zk = z.select(F.col("day").alias("day_k"), F.col("z").alias("z_k"))
    lagged = (
        z.select(
            "day",
            F.col("z").alias("z0"),
            F.explode(
                F.array(*[F.lit(k) for k in _ACF_LAGS])
            ).alias("lag"),
        )
        .withColumn("day_k", F.date_add("day", F.col("lag")))
        .join(zk, "day_k")
    )
    return (
        lagged.crossJoin(F.broadcast(den))
        .groupBy("lag", "d")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(
                    F.round(F.col("z0") * F.col("z_k"), 10).cast(
                        "decimal(28,10)"
                    )
                ).cast("double")
                / F.first("d"),
                6,
            ).alias("acf"),
        )
        .select("lag", "n_pairs", "acf")
        .orderBy("lag")
    )


_KM_REF_DATE = "2001-08-02"  # day after the fixture's last order
_KM_HORIZONS = (30, 60, 90, 180, 365, 730)


@register(
    "customer_survival_curve",
    oracle=f"""
WITH seq AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              LAG(CAST(date_trunc('day', o_orderdate) AS DATE)) OVER w,
              CAST(date_trunc('day', o_orderdate) AS DATE)) AS BIGINT) AS g,
         1 AS ev
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
gaps AS (
  SELECT g, ev FROM seq WHERE g IS NOT NULL
  UNION ALL
  SELECT CAST(date_diff('day',
              MAX(CAST(date_trunc('day', o_orderdate) AS DATE)),
              DATE '{_KM_REF_DATE}') AS BIGINT) AS g, 0 AS ev
  FROM orders GROUP BY o_custkey
),
ev AS (
  SELECT g, CAST(SUM(ev) AS BIGINT) AS d, COUNT(*) AS c FROM gaps GROUP BY g
),
tot AS (SELECT SUM(c) AS total FROM ev),
rk AS (
  SELECT g, d,
         total - COALESCE(SUM(c) OVER (ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM ev CROSS JOIN tot
),
terms AS (
  SELECT g, d,
         CASE WHEN d < n_risk THEN
           CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)),
                      12) AS DECIMAL(28,12)) END AS term,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
  FROM rk WHERE d > 0
),
h AS (SELECT UNNEST([{", ".join(str(k) for k in _KM_HORIZONS)}]) AS horizon)
SELECT h.horizon,
       COUNT(t.g) AS n_event_times,
       CAST(COALESCE(SUM(t.d), 0) AS BIGINT) AS n_events,
       CASE WHEN COALESCE(MAX(t.dead), 0) = 1 THEN 0.0
            ELSE round(exp(CAST(COALESCE(SUM(t.term), 0) AS DOUBLE)), 6)
       END AS survival
FROM h LEFT JOIN terms t ON t.g <= h.horizon
GROUP BY h.horizon
ORDER BY h.horizon
""",
    doc="Kaplan-Meier reorder survival (Kaplan & Meier 1958): S(t) = "
    "P(no reorder within t days of an order), from per-customer "
    "consecutive order gaps (events) plus each customer's final "
    "still-open gap censored at the observation end "
    f"({_KM_REF_DATE}) — the censoring is what separates this from a "
    "naive gap histogram (customer_reorder_intervals), which "
    "understates long-tail churn.  Read out at horizons "
    f"{_KM_HORIZONS}.  Determinism: risk sets are exact integer "
    "counts; each hazard term ln(1 - d/n) is computed from "
    "exactly-cast doubles with identical fold order, rounded at 12dp "
    "and summed as DECIMAL (the PageRank recipe); exp + 6dp round at "
    "the end; the d = n_risk boundary (survival hits exactly zero, "
    "where ln diverges) is handled by an explicit CASE on BOTH "
    "engines.  Scale shape: one customer-keyed window + one collapse "
    "to per-gap-value counts (~2400 rows, day-domain-bounded), so the "
    "risk-set cumulative window and horizon fan-out run on a "
    "dimension-sized frame — at 100 TB the cost is the gap scan.",
    tags=("relational", "timeseries", "window", "mining"),
)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.date_trunc("day", "o_orderdate").cast("date")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    events = (
        o.select(
            F.datediff(day, F.lag(day).over(w)).cast("long").alias("g")
        )
        .where(F.col("g").isNotNull())
        .withColumn("ev", F.lit(1))
    )
    censored = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(_KM_REF_DATE).cast("date"), F.max(day))
        .cast("long")
        .alias("g")
    ).select("g", F.lit(0).alias("ev"))
    gaps = events.unionAll(censored)
    ev = gaps.groupBy("g").agg(
        F.sum("ev").cast("long").alias("d"), F.count(F.lit(1)).alias("c")
    )
    # Risk sets via the two-phase distributed prefix sum: the gap-value
    # grid is day-domain-bounded but DATA-dimension (it widens with the
    # fixture's date span — 3012 distinct gaps at 10x, past the
    # single-partition window budget), so a global Window.orderBy would
    # collapse it into one task.  The helper range-partitions on g and
    # returns the inclusive running count plus the grand total in one
    # pass; n_risk = total - (everything strictly before g).
    from mapreducer_spark.functions.agg import global_running_sum_with_total

    summed, total = global_running_sum_with_total(
        ev, ["g"], "c", out_name="cum_c", sum_cast="long"
    )
    rk = summed.select(
        "g",
        "d",
        (F.lit(int(total)) - (F.col("cum_c") - F.col("c"))).alias("n_risk"),
    )
    terms = rk.where(F.col("d") > 0).select(
        "g",
        "d",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double")
                    / F.col("n_risk").cast("double")
                ),
                12,
            ).cast("decimal(28,12)"),
        ).alias("term"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias("dead"),
    )
    from mapreducer_spark.functions.inline import inline_rows

    h = inline_rows(spark, [(int(k),) for k in _KM_HORIZONS], ["horizon"])
    return (
        h.join(terms, terms.g <= h.horizon, "left")
        .groupBy("horizon")
        .agg(
            F.count("g").alias("n_event_times"),
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_events"),
            F.when(F.coalesce(F.max("dead"), F.lit(0)) == 1, F.lit(0.0))
            .otherwise(
                F.round(
                    F.exp(
                        F.coalesce(F.sum("term"), F.lit(0)).cast("double")
                    ),
                    6,
                )
            )
            .alias("survival"),
        )
        .orderBy("horizon")
    )


@register(
    "cohort_ltv_curve",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_totalprice,
         year(o_orderdate) * 12 + month(o_orderdate) AS ym,
         MIN(year(o_orderdate) * 12 + month(o_orderdate))
           OVER (PARTITION BY o_custkey) AS cym
  FROM orders
),
cell AS (
  SELECT make_date((cym - 1) // 12, ((cym - 1) % 12) + 1, 1) AS cohort_month,
         ym - cym AS age_months,
         COUNT(*) AS n_orders,
         COUNT(DISTINCT o_custkey) AS n_active,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM o GROUP BY 1, 2
),
sized AS (
  SELECT *,
    CAST(SUM(CASE WHEN age_months = 0 THEN n_active END)
      OVER (PARTITION BY cohort_month) AS BIGINT) AS cohort_size,
    SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum_rev
  FROM cell
)
SELECT cohort_month, age_months, cohort_size, n_orders, n_active,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(cum_rev AS DOUBLE), 2) AS cum_revenue,
       round(((CAST(cum_rev * 100 AS BIGINT) * 100) // cohort_size)
             / 10000.0, 4) AS ltv_per_customer
FROM sized
ORDER BY cohort_month, age_months
""",
    doc="Cohort lifetime-value curve: customers cohorted by first-order "
    "month, revenue accumulated by age-in-months since the cohort "
    "start — the LTV(t) readout behind payback-period and CAC-ceiling "
    "decisions, and the revenue companion to user_retention_cohorts.  "
    "Cohort month arithmetic is exact integers (year*12+month), never "
    "float months_between; every customer's age-0 cell exists by "
    "construction, so the age-0 active count IS the cohort size.  "
    "Determinism: decimal-exact revenue sums and a decimal cumulative "
    "window; the per-customer LTV divides exact integer cents with "
    "FLOOR division (a plain double round hit an exact .5 half-tie at "
    "4dp on this very fixture and split the engines 1 ulp apart).  "
    "Scale shape: one customer-keyed window for the cohort assignment, "
    "one (cohort x age) aggregation (~80x80 dimension-sized), windows "
    "on the tiny frame.",
    tags=("relational", "timeseries", "window", "mining"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    wc = Window.partitionBy("o_custkey")
    base = o.select(
        "o_custkey", "o_totalprice", ym
    ).withColumn("cym", F.min("ym").over(wc))
    cell = base.groupBy(
        F.make_date(
            ((F.col("cym") - 1) / 12).cast("int"),
            ((F.col("cym") - 1) % 12) + 1,
            F.lit(1),
        ).alias("cohort_month"),
        (F.col("ym") - F.col("cym")).alias("age_months"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    wsz = Window.partitionBy("cohort_month")
    wcum = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = cell.withColumn(
        "cohort_size",
        F.sum(
            F.when(F.col("age_months") == 0, F.col("n_active"))
        ).over(wsz),
    ).withColumn("cum_rev", F.sum("rev").over(wcum))
    return sized.select(
        "cohort_month",
        "age_months",
        "cohort_size",
        "n_orders",
        "n_active",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(F.col("cum_rev").cast("double"), 2).alias("cum_revenue"),
        F.round(
            F.expr(
                "(CAST(cum_rev * 100 AS BIGINT) * 100) DIV cohort_size"
            )
            / F.lit(10000.0),
            4,
        ).alias("ltv_per_customer"),
    ).orderBy("cohort_month", "age_months")


@register(
    "new_vs_returning_revenue",
    oracle="""
WITH o AS (
  SELECT o_totalprice,
         year(o_orderdate) * 12 + month(o_orderdate) AS ym,
         MIN(year(o_orderdate) * 12 + month(o_orderdate))
           OVER (PARTITION BY o_custkey) AS cym
  FROM orders
),
cell AS (
  SELECT make_date((ym - 1) // 12, ((ym - 1) % 12) + 1, 1) AS month,
         CASE WHEN ym = cym THEN 'new' ELSE 'returning' END AS segment,
         COUNT(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM o GROUP BY 1, 2
)
SELECT month, segment, n_orders,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY month) AS DOUBLE), 6)
         AS month_share
FROM cell
ORDER BY month, segment
""",
    doc="New-vs-returning revenue split per month: an order is 'new' "
    "iff it falls in its customer's first-ever order month — the "
    "growth-accounting readout (is revenue growth acquisition or "
    "retention?) that cohort_ltv_curve integrates over and "
    "user_growth_accretion counts users for.  Exact integer "
    "year*12+month cohort arithmetic, decimal-exact revenue, "
    "identical-order double shares rounded once.  Scale shape: one "
    "customer-keyed window for the first-month assignment, one "
    "(month x 2)-cell aggregation, a window over the ~160-row "
    "result.",
    tags=("relational", "timeseries", "mining"),
)
def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    base = o.select("o_custkey", "o_totalprice", ym).withColumn(
        "cym", F.min("ym").over(Window.partitionBy("o_custkey"))
    )
    cell = base.groupBy(
        F.make_date(
            ((F.col("ym") - 1) / 12).cast("int"),
            ((F.col("ym") - 1) % 12) + 1,
            F.lit(1),
        ).alias("month"),
        F.when(F.col("ym") == F.col("cym"), "new")
        .otherwise("returning")
        .alias("segment"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    wm = Window.partitionBy("month")
    return cell.select(
        "month",
        "segment",
        "n_orders",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(wm).cast("double"),
            6,
        ).alias("month_share"),
    ).orderBy("month", "segment")


@register(
    "revenue_forecast_backtest",
    oracle="""
WITH monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
preds AS (
  SELECT a.ym,
         CAST(a.rev AS DOUBLE) AS actual,
         CAST(n.rev AS DOUBLE) AS naive_pred,
         CAST(s.rev AS DOUBLE) AS seasonal_pred
  FROM monthly a
  JOIN monthly n ON n.ym = a.ym - 1
  JOIN monthly s ON s.ym = a.ym - 12
),
scored AS (
  SELECT model, ym, ape FROM (
    SELECT ym, 'naive_last_month' AS model,
           round(abs(actual - naive_pred) / actual, 8) AS ape
    FROM preds
    UNION ALL
    SELECT ym, 'seasonal_naive_12', round(abs(actual - seasonal_pred)
           / actual, 8)
    FROM preds
  )
)
SELECT model,
       COUNT(*) AS n_months,
       round(CAST(SUM(CAST(ape AS DECIMAL(28,8))) AS DOUBLE)
             / COUNT(*), 6) AS mape,
       round(MAX(ape), 6) AS worst_ape
FROM scored
GROUP BY model
ORDER BY model
""",
    doc="Forecast backtest over the monthly revenue series: naive "
    "(last month) vs seasonal-naive (same month last year) MAPE on "
    "every month where both predictors exist — the baseline ladder "
    "any real forecaster must beat, and the evaluation loop "
    "complementing daily_revenue_autocorrelation's diagnostic (a "
    "strong lag-12 ACF predicts seasonal-naive should win).  Exact "
    "integer month keys join the lagged predictions (no window-frame "
    "assumptions about month contiguity); APEs are identical-order "
    "double divisions of exactly-cast decimal sums, rounded at 8dp "
    "into the decimal MAPE numerator.  Scale shape: one collapse to "
    "the ~80-row monthly series, self-joins on that.",
    tags=("relational", "timeseries", "mining"),
)
def revenue_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    monthly = checkpoint_inspected(monthly, "revenue_forecast_backtest.monthly")
    a = monthly.select("ym", F.col("rev").cast("double").alias("actual"))
    n1 = monthly.select(
        (F.col("ym") + 1).alias("ym"),
        F.col("rev").cast("double").alias("naive_pred"),
    )
    s12 = monthly.select(
        (F.col("ym") + 12).alias("ym"),
        F.col("rev").cast("double").alias("seasonal_pred"),
    )
    preds = a.join(n1, "ym").join(s12, "ym")
    ape = lambda pred: F.round(  # noqa: E731
        F.abs(F.col("actual") - F.col(pred)) / F.col("actual"), 8
    )
    scored = preds.select(
        "ym", F.lit("naive_last_month").alias("model"),
        ape("naive_pred").alias("ape"),
    ).unionAll(
        preds.select(
            "ym",
            F.lit("seasonal_naive_12").alias("model"),
            ape("seasonal_pred").alias("ape"),
        )
    )
    return (
        scored.groupBy("model")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.round(
                F.sum(F.col("ape").cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mape"),
            F.round(F.max("ape"), 6).alias("worst_ape"),
        )
        .orderBy("model")
    )


@register(
    "concurrent_orders_profile",
    oracle="""
WITH spans AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(date_trunc('day', o.o_orderdate) AS DATE) AS start_day,
         CAST(date_trunc('day', MAX(l.l_shipdate)) AS DATE) AS close_day
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.o_custkey,
         CAST(date_diff('day',
              greatest(a.start_day, b.start_day),
              least(a.close_day, b.close_day)) AS BIGINT) + 1
           AS overlap_days
  FROM spans a JOIN spans b
    ON a.o_custkey = b.o_custkey
   AND a.o_orderkey < b.o_orderkey
   AND a.start_day <= b.close_day
   AND b.start_day <= a.close_day
),
per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_pairs,
         CAST(SUM(CAST(overlap_days AS DECIMAL(18,0))) AS BIGINT)
           AS total_overlap_days
  FROM pairs GROUP BY 1
)
SELECT n_pairs,
       COUNT(*) AS n_customers,
       CAST(SUM(total_overlap_days) AS BIGINT) AS total_overlap_days
FROM per_cust
GROUP BY n_pairs
ORDER BY n_pairs
""",
    doc="Interval-overlap self-join profile: pairs of a customer's "
    "orders whose [order, last-ship] spans overlapped in time, "
    "reported as the distribution of per-customer overlapping-pair "
    "counts with total overlap days — the PAIR-grain view of "
    "concurrency that open_orders_timeline's sweep-line counts only "
    "in aggregate (a fulfillment system sizing per-customer parallel "
    "shipments needs the pairs, not the global curve).  The overlap "
    "predicate is the canonical a.start <= b.end AND b.start <= a.end "
    "with a key inequality for unordered pairs.  Determinism: pure "
    "integer date arithmetic.  Scale shape: the self-join is "
    "PARTITIONED BY CUSTOMER — per-customer order counts are bounded "
    "(~25), so the pair fan-out is m^2-per-key on a tiny m, one "
    "shuffle on custkey; never a global interval join.",
    tags=("relational", "join", "sessionization"),
)
def concurrent_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            "o_custkey",
            F.date_trunc("day", "o_orderdate").cast("date").alias(
                "start_day"
            ),
        )
        .agg(
            F.date_trunc("day", F.max("l_shipdate"))
            .cast("date")
            .alias("close_day")
        )
    )
    a = spans.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ka"),
        F.col("start_day").alias("sa"),
        F.col("close_day").alias("ea"),
    )
    b = spans.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("kb"),
        F.col("start_day").alias("sb"),
        F.col("close_day").alias("eb"),
    )
    pairs = a.join(b, "ck").where(
        (F.col("ka") < F.col("kb"))
        & (F.col("sa") <= F.col("eb"))
        & (F.col("sb") <= F.col("ea"))
    ).select(
        "ck",
        (
            F.datediff(
                F.least("ea", "eb"), F.greatest("sa", "sb")
            ).cast("long")
            + 1
        ).alias("overlap_days"),
    )
    per_cust = pairs.groupBy("ck").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("overlap_days").cast("decimal(18,0)"))
        .cast("long")
        .alias("total_overlap_days"),
    )
    return (
        per_cust.groupBy("n_pairs")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("total_overlap_days")
            .cast("long")
            .alias("total_overlap_days"),
        )
        .orderBy("n_pairs")
    )


_PATH_K = 3  # leading events per session in the path signature
_PATH_TOPN = 20


@register(
    "session_top_paths",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL '{_GAP_MIN} minutes'
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM flagged
),
ranked AS (
  SELECT user_id, session_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn
  FROM sessioned
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_PATH_K}
  GROUP BY user_id, session_id
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOPN}
""",
    doc=f"Top session paths: each session's first {_PATH_K} event types "
    "joined into a path signature ('view>click>purchase'), counted "
    "and ranked — the product-analytics path report that "
    "event_markov_transitions aggregates away (Markov sees only "
    "pairwise hops; paths keep the actual opening sequences) and "
    "event_funnel_ordered tests only for one hypothesized order.  "
    "Sessionization is the exact event_sessions formulation "
    "(30-min gap), so the two queries agree on boundaries by "
    "construction.  Determinism: per-session ordering by (ts, "
    "event_id); path assembly is ORDER-explicit on both engines "
    "(sort_array struct / string_agg ORDER BY), never collect_list "
    "order; top-N ties break on the path text.  Scale shape: one "
    "user-keyed window pass, one session aggregation, one path "
    "count — shuffle keys never wider than (user, session).",
    tags=("events", "window", "session", "mining"),
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.expr(f"INTERVAL {_GAP_MIN} MINUTES")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > gap),
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = e.select(
        "user_id", "event_id", "ts", "event_type",
        new_session.alias("new_session"),
    )
    sessioned = flagged.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum("new_session").over(wrun).alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    ranked = sessioned.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(ws).alias("rn"),
    ).where(F.col("rn") <= _PATH_K)
    paths = ranked.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOPN)
    )


@register(
    "in_session_conversion",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL '{_GAP_MIN} minutes'
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, event_type,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS has_purchase,
         COUNT(*) AS n_events
  FROM sessioned GROUP BY 1, 2
)
SELECT
  COUNT(*) AS n_sessions,
  CAST(SUM(has_view) AS BIGINT) AS sessions_with_view,
  CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS converting_sessions,
  round(CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1
                      THEN 1 ELSE 0 END) AS DOUBLE)
        / SUM(has_view), 6) AS in_session_cvr,
  round(CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1
                      THEN CAST(n_events AS BIGINT) END) AS DOUBLE)
        / SUM(CASE WHEN has_view = 1 AND has_purchase = 1
                   THEN 1 END), 4) AS avg_events_converting,
  round(CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 0
                      THEN CAST(n_events AS BIGINT) END) AS DOUBLE)
        / SUM(CASE WHEN has_view = 1 AND has_purchase = 0
                   THEN 1 END), 4) AS avg_events_nonconverting
FROM per_session
""",
    doc="In-session conversion rate: sessions containing a view that "
    "also contain a purchase, with mean session length for converting "
    "vs non-converting sessions — the SESSION-grain funnel that "
    "conversion_delay_percentiles' user-grain latency and "
    "event_funnel_ordered's global ordering both miss (a user may "
    "convert days later; in-session conversion is the UX-quality "
    "number).  Boundaries are the exact event_sessions formulation, "
    "so all three session queries reconcile.  Pure integer flags to "
    "three rounded divisions.  Scale shape: one user-keyed window, "
    "one session collapse, a 1-row readout.",
    tags=("events", "session", "mining"),
)
def in_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.expr(f"INTERVAL {_GAP_MIN} MINUTES")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > gap),
        F.lit(1),
    ).otherwise(F.lit(0))
    sessioned = e.select(
        "user_id",
        "event_type",
        new_session.alias("ns"),
        "ts",
        "event_id",
    ).select(
        "user_id",
        "event_type",
        F.sum("ns").over(wrun).alias("session_id"),
    )
    per_session = sessioned.groupBy("user_id", "session_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("has_view"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
        F.count(F.lit(1)).alias("n_events"),
    )
    conv = (F.col("has_view") == 1) & (F.col("has_purchase") == 1)
    nonconv = (F.col("has_view") == 1) & (F.col("has_purchase") == 0)
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_view").cast("long").alias("sessions_with_view"),
        F.sum(F.when(conv, 1).otherwise(0))
        .cast("long")
        .alias("converting_sessions"),
        F.round(
            F.sum(F.when(conv, 1).otherwise(0)).cast("double")
            / F.sum("has_view"),
            6,
        ).alias("in_session_cvr"),
        F.round(
            F.sum(F.when(conv, F.col("n_events").cast("long"))).cast(
                "double"
            )
            / F.sum(F.when(conv, 1)),
            4,
        ).alias("avg_events_converting"),
        F.round(
            F.sum(
                F.when(nonconv, F.col("n_events").cast("long"))
            ).cast("double")
            / F.sum(F.when(nonconv, 1)),
            4,
        ).alias("avg_events_nonconverting"),
    )


@register(
    "customer_order_regularity",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              LAG(CAST(date_trunc('day', o_orderdate) AS DATE)) OVER w,
              CAST(date_trunc('day', o_orderdate) AS DATE)) AS BIGINT)
           AS g
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
m AS (
  SELECT o_custkey, COUNT(*) AS n_gaps,
         CAST(SUM(CAST(g AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS mu,
         CAST(SUM(CAST(g * g AS DECIMAL(28,0))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(g AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(g AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*))
           AS var
  FROM seq WHERE g IS NOT NULL
  GROUP BY 1 HAVING COUNT(*) >= 3
),
banded AS (
  SELECT CASE WHEN mu <= 0 THEN 'degenerate'
              WHEN sqrt(greatest(var, 0)) / mu < 0.3 THEN 'clockwork'
              WHEN sqrt(greatest(var, 0)) / mu < 0.7 THEN 'regular'
              WHEN sqrt(greatest(var, 0)) / mu < 1.1 THEN 'irregular'
              ELSE 'sporadic' END AS regularity,
         n_gaps, mu
  FROM m
)
SELECT regularity,
       COUNT(*) AS n_customers,
       round(CAST(SUM(CAST(round(mu, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 4) AS avg_mean_gap_days,
       round(CAST(SUM(CAST(n_gaps AS DECIMAL(18,0))) AS DOUBLE)
             / COUNT(*), 4) AS avg_n_gaps
FROM banded
GROUP BY regularity
ORDER BY regularity
""",
    doc="Order-cadence regularity segmentation: per customer (>= 3 "
    "gaps) the coefficient of variation of inter-order gaps, banded "
    "into clockwork (<0.3 — replenishment/subscription-like, the "
    "segment autoship offers convert), regular, irregular, and "
    "sporadic (>=1.1, memoryless-or-worse: a Poisson process has "
    "CV = 1) — the per-CUSTOMER regularity view that "
    "customer_reorder_intervals' global histogram and the XYZ "
    "matrix's per-PART demand CV both miss.  Exact integer gap "
    "moments per customer (the overdispersion recipe), identical "
    "double folds, band edges on identical doubles; zero-variance "
    "guard via greatest(var, 0) against negative epsilon from "
    "cancellation on BOTH engines identically.  Scale shape: one "
    "customer-keyed window, one customer collapse, a 4-row readout.",
    tags=("relational", "window", "mining"),
)
def customer_order_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.date_trunc("day", "o_orderdate").cast("date")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(day, F.lag(day).over(w)).cast("long").alias("g"),
    ).where(F.col("g").isNotNull())
    n = F.count(F.lit(1))
    s1 = F.sum(F.col("g").cast("decimal(18,0)")).cast("double")
    s2 = F.sum((F.col("g") * F.col("g")).cast("decimal(28,0)")).cast(
        "double"
    )
    mu = s1 / n
    var = s2 / n - mu * mu
    m = (
        seq.groupBy("o_custkey")
        .agg(n.alias("n_gaps"), mu.alias("mu"), var.alias("var"))
        .where(F.col("n_gaps") >= 3)
    )
    cv = F.sqrt(F.greatest(F.col("var"), F.lit(0.0))) / F.col("mu")
    band = (
        F.when(F.col("mu") <= 0, "degenerate")
        .when(cv < 0.3, "clockwork")
        .when(cv < 0.7, "regular")
        .when(cv < 1.1, "irregular")
        .otherwise("sporadic")
    )
    return (
        m.select(band.alias("regularity"), "n_gaps", "mu")
        .groupBy("regularity")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(
                    F.round(F.col("mu"), 6).cast("decimal(28,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_mean_gap_days"),
            F.round(
                F.sum(F.col("n_gaps").cast("decimal(18,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            ).alias("avg_n_gaps"),
        )
        .orderBy("regularity")
    )
