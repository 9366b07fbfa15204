"""Mergeable sketch operators — fixed-size summaries that survive 100 TB.

Spark already ships HLL (approx_count_distinct, exercised by
approx_distinct_users / user_hll_rollup) and GK quantiles
(approx_price_quantiles); this module adds the classic COUNT-MIN SKETCH
(Cormode & Muthukrishnan 2005) built entirely from DataFrame
aggregations, because CMS is the sketch a streaming/batch heavy-hitter
pipeline actually deploys: a d x w grid of counters that is

- one groupBy to build (map-side partial sums combine per cell),
- O(d*w) to store regardless of input size (here 4 x 64 = 256 cells),
- mergeable across partitions/days by cell-wise addition, and
- queryable with est(x) = min_j grid[j][h_j(x)] — never undercounts.

The query deliberately sizes w=64 BELOW the 150-user key cardinality so
collisions actually happen and the one-sided overcount guarantee is
visible in the output (est_cnt >= exact_cnt, checked per row by the
oracle).  Hashes are the cross-engine md5_int64 so the DuckDB oracle
reproduces the grid bit-for-bit — a production deployment would swap in
xxhash64 seeds exactly like the LSH path (dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducer_spark.functions.hashes import md5_int64, oracle_md5_int64
from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import fan_out, load_table

_CMS_D = 4  # hash rows
_CMS_W = 64  # counters per row (< 150 distinct users -> real collisions)
_CMS_TOPN = 20


def cms_cell_col():
    """The (j, user_id) -> cell hash, shared by the batch sketch, the
    probe side, and the Structured Streaming twin (streaming/jobs.py) —
    one definition so batch and stream can never drift."""
    return (
        md5_int64(
            F.concat_ws(
                ":", F.col("j").cast("string"), F.col("user_id").cast("string")
            )
        )
        % _CMS_W
    )


def cms_cells(ev: DataFrame) -> DataFrame:
    """CMS counter grid over a (possibly streaming) user_id frame: one
    wide-out crossJoin (d=4 rows) then ONE groupBy whose output is the
    constant-size grid.  Works unchanged as a streaming aggregation
    (complete mode) because it is a plain groupBy-count."""
    rows_j = ev.sparkSession.range(_CMS_D).select(
        F.col("id").cast("int").alias("j")
    )
    return (
        ev.crossJoin(F.broadcast(rows_j))
        .select("j", cms_cell_col().alias("cell"))
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )



def cms_report_from_counts(counts: DataFrame) -> DataFrame:
    """The heavy-hitters report derived from per-user EXACT counts —
    shared verbatim by the batch query below and the streaming monitor
    (streaming/jobs.py::run_heavy_hitters_monitor), so their parity
    holds by construction.  The CMS grid is rebuilt from the counts by
    WEIGHTED cell increments (a user with count c adds c to each of its
    d cells — identical to per-event increments because integer sums
    commute), then every user probes min-over-rows as usual."""
    spark = counts.sparkSession
    rows_j = spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    probes = counts.crossJoin(F.broadcast(rows_j)).select(
        "user_id", "exact_cnt", "j", cms_cell_col().alias("cell")
    )
    cells = probes.groupBy("j", "cell").agg(
        F.sum("exact_cnt").alias("cnt")
    )
    est = (
        probes.join(F.broadcast(cells), ["j", "cell"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        counts.join(est, "user_id")
        .select(
            "user_id",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
            (F.col("est_cnt") >= F.col("exact_cnt")).alias(
                "never_undercounts"
            ),
        )
        .orderBy(F.col("est_cnt").desc(), "user_id")
        .limit(_CMS_TOPN)
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
WITH rows_j AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j),
cells AS (
  SELECT r.j,
         {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
           % {_CMS_W} AS cell,
         COUNT(*) AS cnt
  FROM events e CROSS JOIN rows_j r
  GROUP BY 1, 2
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
),
probes AS (
  SELECT x.user_id, r.j,
         {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || CAST(x.user_id AS VARCHAR)")}
           % {_CMS_W} AS cell
  FROM exact x CROSS JOIN rows_j r
),
est AS (
  SELECT p.user_id, CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
  FROM probes p JOIN cells c ON p.j = c.j AND p.cell = c.cell
  GROUP BY p.user_id
)
SELECT user_id, exact_cnt, est_cnt,
       est_cnt - exact_cnt AS overcount,
       est_cnt >= exact_cnt AS never_undercounts
FROM (
  SELECT x.user_id, x.exact_cnt, e.est_cnt,
         ROW_NUMBER() OVER (ORDER BY e.est_cnt DESC, x.user_id) AS rn
  FROM exact x JOIN est e ON x.user_id = e.user_id
)
WHERE rn <= {_CMS_TOPN}
""",
    doc="Count-min-sketch heavy hitters over event traffic: build a "
    "4 x 64 CMS grid of the user_id frequency stream with ONE groupBy "
    "(256 cells total, map-side combined — the counters, not the "
    "events, are what survives), estimate every candidate's count as "
    "the min over its 4 cells, and report the top-20 estimated-heaviest "
    "users with their exact counts, the overcount each absorbed from "
    "colliding keys, and the per-row proof of the CMS one-sided error "
    "bound (est >= exact, always).  Scale shape: the sketch is "
    "O(d*w) = constant-size and mergeable (daily sketches add "
    "cell-wise), the estimate join BROADCASTs the 256-cell grid, and "
    "candidate probing is a map over whatever key set you care about — "
    "at 100 TB you'd probe only a candidate list (or walk the sketch), "
    "never re-scan the raw stream.",
    tags=("sketch", "events"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    # One per-user exact-count collapse, then the shared counts-driven
    # report (identical cell sums to per-event increments — integer
    # addition commutes) so the streaming monitor's parity is literal.
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    return cms_report_from_counts(counts)


# --------------------------------------------------------------------------
# Bloom-filter decontamination (Bloom 1970; the Dolma/RedPajama-style
# exact-contamination pass at corpus scale).
# --------------------------------------------------------------------------
#
# The bitmap is sized FROM THE DATA — m = bits_per_key * |distinct bench
# grams| — the real Bloom sizing discipline, and deterministic in both
# engines, so the oracle hash survives every scale factor.  k=3 with 10
# bits/key gives a ~1.7% theoretical FP rate ((1-e^{-0.3})^3), low enough
# to be useful and high enough that false positives actually occur at
# test scale (~400 of the ~23k train grams at sf0.01), making the
# one-sided guarantee observable in the output.
#
# Words pack 63 bits, not 64: DuckDB's `<<` raises on `1::BIGINT << 63`
# (sign-bit overflow), so bit indices stay in 0..62 and every word is a
# non-negative int64 in both engines.
_BLOOM_K = 3  # hash functions
_BLOOM_BITS_PER_KEY = 10
_BLOOM_WORD_BITS = 63


def _bloom_rows_j(spark: SparkSession) -> DataFrame:
    return spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("j"))


def bloom_positions(side: DataFrame, params: DataFrame) -> DataFrame:
    """k bit positions per row of a `gram` frame: md5(j:gram) % m_bits.
    ``params`` is the 1-row (m_bits) frame — passed in, not derived, so
    every cooperating sketch (halves being merged, the probe side) uses
    the SAME bitmap geometry."""
    rows_j = _bloom_rows_j(side.sparkSession)
    return (
        side.crossJoin(F.broadcast(rows_j))
        .crossJoin(F.broadcast(params))
        .withColumn(
            "pos",
            md5_int64(F.concat_ws(":", F.col("j").cast("string"), F.col("gram")))
            % F.col("m_bits"),
        )
    )


def doc_gram_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, source, gram) word-n-gram frame over a documents frame —
    shared by the batch decontamination query and the streaming bloom
    builder (pure map, so it works unchanged on a streaming frame)."""
    from mapreducer_spark.operators.curation import _NGRAM, _toks_col, word_ngrams

    d = docs.select("doc_id", "source", _toks_col().alias("t"))
    d = d.where(F.size("t") >= _NGRAM)
    return d.select(
        "doc_id", "source", F.explode(word_ngrams(F.col("t"), _NGRAM)).alias("gram")
    )


def _bloom_bit():
    """int64 with only bit (pos % 63) set — built lazily because Column
    construction needs an active SparkContext."""
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
    )


def bloom_bitmap(grams: DataFrame, params: DataFrame) -> DataFrame:
    """(word_idx, word) bitmap over a `gram` frame: one bit_or groupBy.
    Mergeable by construction — bit_or of two halves' words equals the
    whole's words — which is what lets 1000 executors (or 365 daily
    jobs) each pack their slice and OR the results."""
    return (
        bloom_positions(grams, params)
        .select(
            (F.col("pos") / _BLOOM_WORD_BITS).cast("long").alias("word_idx"),
            _bloom_bit().alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


@register(
    "bloom_decontamination",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     x -> length(x) > 0) AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(t[i:i + 3], ' '))) AS gram
  FROM toks WHERE len(t) >= 4
),
bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
params AS (SELECT COUNT(*) * {_BLOOM_BITS_PER_KEY} AS m_bits FROM bench),
rows_j AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j),
bloom AS (
  SELECT pos // {_BLOOM_WORD_BITS} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD_BITS} AS INT)) AS word
  FROM (
    SELECT {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || b.gram")}
             % p.m_bits AS pos
    FROM bench b CROSS JOIN rows_j r CROSS JOIN params p
  )
  GROUP BY 1
),
train AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE source <> 'src0'
),
probe AS (
  SELECT q.doc_id, q.gram,
         bool_and(
           (COALESCE(w.word, 0) &
            (1::BIGINT << CAST(q.pos % {_BLOOM_WORD_BITS} AS INT))) <> 0
         ) AS in_bloom
  FROM (
    SELECT t.doc_id, t.gram,
           {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || t.gram")}
             % p.m_bits AS pos
    FROM train t CROSS JOIN rows_j r CROSS JOIN params p
  ) q
  LEFT JOIN bloom w ON q.pos // {_BLOOM_WORD_BITS} = w.word_idx
  GROUP BY 1, 2
),
scored AS (
  SELECT p.doc_id,
         COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN p.in_bloom THEN 1 ELSE 0 END) AS BIGINT)
           AS bloom_hits,
         CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_hits
  FROM probe p LEFT JOIN bench b ON p.gram = b.gram
  GROUP BY 1
)
SELECT doc_id, n_grams, bloom_hits, exact_hits,
       bloom_hits - exact_hits AS fp_grams,
       bloom_hits >= exact_hits AS no_false_negatives,
       bloom_hits > 0 AS flagged
FROM scored
""",
    doc="Bloom-filter benchmark decontamination (L4): pack the 'src0' "
    "benchmark split's distinct word 4-grams into a "
    f"data-sized bitmap (m = {_BLOOM_BITS_PER_KEY} bits/key, "
    f"k = {_BLOOM_K} md5-derived hashes, {_BLOOM_WORD_BITS}-bit words "
    "via bit_or), then probe every distinct training-doc gram against "
    "the broadcast bitmap and report per-doc bloom hits vs exact "
    "membership — fp_grams is the overcount the filter absorbed and "
    "no_false_negatives pins Bloom's one-sided guarantee per row.  "
    "Scale shape: the bitmap is built from the SMALL bench split and "
    "broadcasts (10 bits/key: 1M bench grams -> 1.25 MB); the 100 TB "
    "training corpus is probed map-side (k=3 row expansion, then one "
    "groupBy per (doc,gram) and one per doc) — the corpus never "
    "shuffles by gram and never joins the bench set row-for-row, which "
    "is the entire point of deploying a Bloom filter over the exact "
    "contamination_ngrams join.",
    tags=("sketch", "llm", "quality", "dedup"),
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducer_spark.operators.curation import _BENCH_SOURCE

    grams = doc_gram_frame(fan_out(load_table(spark, sf_dir, "documents")))
    # Pin the benchmark gram set ONCE (optimization r13, guide §2.4):
    # it feeds the sizing params, the bitmap build AND the exact-hit
    # join, and without the pin each reference re-expanded the
    # tokenize + n-gram explode of the benchmark slice.  Vocab-sized.
    bench = checkpoint_inspected(
        grams.where(F.col("source") == _BENCH_SOURCE)
        .select("gram")
        .distinct(),
        "bloom_decontamination.bench_grams",
    )
    params = bench.agg(
        (F.count(F.lit(1)) * _BLOOM_BITS_PER_KEY).alias("m_bits")
    )
    bloom = bloom_bitmap(bench, params)

    train = (
        grams.where(F.col("source") != _BENCH_SOURCE)
        .select("doc_id", "gram")
        .distinct()
    )
    # bloom + bench are UNHINTED (r11 hinted-broadcast budget): both
    # grow in ROWS with the benchmark key count even though the bitmap
    # stays tiny in BYTES (10 bits/key) — which is exactly the metric
    # Spark's own bytes threshold broadcasts by, so the auto planner
    # keeps the map-side probe shape wherever the bitmap actually fits
    # and degrades honestly if someone feeds a terabyte eval set.
    probe = (
        bloom_positions(train, params)
        .join(
            bloom,
            (F.col("pos") / _BLOOM_WORD_BITS).cast("long") == F.col("word_idx"),
            "left",
        )
        .select(
            "doc_id",
            "gram",
            (
                (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(_bloom_bit())) != 0
            ).alias("bit_set"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.bool_and("bit_set").alias("in_bloom"))
    )
    scored = (
        probe.join(
            bench.withColumn("is_bench", F.lit(1)), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("in_bloom").cast("long")).alias("bloom_hits"),
            F.sum(
                F.when(F.col("is_bench").isNotNull(), 1).otherwise(0)
            ).alias("exact_hits"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "bloom_hits",
        "exact_hits",
        (F.col("bloom_hits") - F.col("exact_hits")).alias("fp_grams"),
        (F.col("bloom_hits") >= F.col("exact_hits")).alias("no_false_negatives"),
        (F.col("bloom_hits") > 0).alias("flagged"),
    )

# ---------------------------------------------------------------------------
# Round 8 (cont.): KMV / theta-style distinct sketch with SET OPERATIONS —
# the third classic mergeable sketch next to CMS (frequencies) and Bloom
# (membership).  HLL (approx_distinct_users) answers "how many distinct"
# for ONE set; a K-Minimum-Values sketch (Bar-Yossef et al. 2002; the
# theta sketch of Dasgupta et al. is its production form) additionally
# supports union/intersection/Jaccard ACROSS sets from the K-value
# summaries alone — how a 100 TB pipeline answers "how much vocabulary
# do sources A and B share" without rescanning either side: per-set
# sketches are K integers, merge is a min-merge, and every estimate is
# |{h < theta}| / theta over broadcast-sized summaries.  Hashing is the
# cross-engine md5-uniform recipe (same as weighted_sample_orders), so
# unlike the HLL pair this sketch is fully hash-checkable: estimate and
# exact columns sit side by side, making the query its own error report.
#
# Two grains keep every code path live at gate scale: 4-gram vocabulary
# sets per source (~1.3k items >> K: the real estimation path, partial
# overlaps) and doc-id sets per source (~25 items < K: the sub-K
# theta=1 branch where estimates must equal exact counts, and — doc
# sets being disjoint across sources — the empty-intersection path).
# ---------------------------------------------------------------------------

_KMV_K = 64  # sketch size (expected relative error ~1/sqrt(K) ~ 12.5%)
_KMV_UMOD = 1 << 30  # hash -> (0, 1] uniform domain, u = h / (UMOD + 1)


def kmv_merge(frame: DataFrame, key_cols: list) -> DataFrame:
    """Min-merge (key..., h) sketch rows: K smallest distinct hashes per
    key group.  The KMV merge operator — associative, commutative, and
    IDEMPOTENT (merging the same sketch twice is a no-op), which is what
    lets 1000 executors or 365 daily jobs each sketch their slice and
    fold the results in any order, and lets a streaming replay converge
    without tag bookkeeping."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy("h")
    return (
        frame.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select(*key_cols, "h")
    )


def kmv_minima(frame: DataFrame, key_cols: list, item_col: str) -> DataFrame:
    """KMV sketch builder: K smallest md5-uniform item hashes per key
    group — shared by the batch set-operations query and the streaming
    sketch maintainer (streaming/jobs.py::run_kmv_sketch_stream), one
    definition so the two can never drift (the cms_cell_col pattern)."""
    h = (md5_int64(F.col(item_col)) % _KMV_UMOD) + 1
    return kmv_merge(frame.select(*key_cols, h.alias("h")), key_cols)


@register(
    "kmv_set_operations",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     x -> length(x) > 0) AS t
  FROM documents
),
items AS (
  SELECT 'gram4' AS grain, source,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(t[i:i + 3], ' '))) AS item
  FROM toks WHERE len(t) >= 4
  UNION ALL
  SELECT 'doc' AS grain, source, CAST(doc_id AS VARCHAR) AS item
  FROM documents
),
ev AS (
  SELECT DISTINCT grain, source,
         (({oracle_md5_int64("item")}) % {_KMV_UMOD}) + 1 AS h
  FROM items
),
sk AS (
  SELECT grain, source, h FROM (
    SELECT grain, source, h,
           ROW_NUMBER() OVER (PARTITION BY grain, source ORDER BY h) AS rn
    FROM ev
  ) WHERE rn <= {_KMV_K}
),
thetas AS (
  SELECT grain, source,
         CASE WHEN COUNT(*) = {_KMV_K} THEN MAX(h)
              ELSE {_KMV_UMOD + 1} END AS theta
  FROM sk GROUP BY grain, source
),
pairs AS (
  SELECT a.grain, a.source AS source_a, b.source AS source_b,
         least(a.theta, b.theta) AS theta
  FROM thetas a JOIN thetas b
    ON a.grain = b.grain AND a.source < b.source
),
ra AS (
  SELECT p.grain, p.source_a, p.source_b, s.h
  FROM pairs p JOIN sk s ON s.grain = p.grain AND s.source = p.source_a
  WHERE s.h < p.theta
),
rb AS (
  SELECT p.grain, p.source_a, p.source_b, s.h
  FROM pairs p JOIN sk s ON s.grain = p.grain AND s.source = p.source_b
  WHERE s.h < p.theta
),
uni AS (
  SELECT grain, source_a, source_b, COUNT(*) AS n_u FROM (
    SELECT DISTINCT grain, source_a, source_b, h FROM (
      SELECT * FROM ra UNION ALL SELECT * FROM rb
    )
  ) GROUP BY grain, source_a, source_b
),
inter AS (
  SELECT ra.grain, ra.source_a, ra.source_b, COUNT(*) AS n_i
  FROM ra JOIN rb ON rb.grain = ra.grain AND rb.source_a = ra.source_a
                 AND rb.source_b = ra.source_b AND rb.h = ra.h
  GROUP BY ra.grain, ra.source_a, ra.source_b
),
du AS (SELECT DISTINCT grain, source, item FROM items),
nd AS (
  SELECT grain, source, COUNT(*) AS ndist FROM du GROUP BY grain, source
),
xi AS (
  SELECT a.grain, a.source AS source_a, b.source AS source_b,
         COUNT(*) AS x_i
  FROM du a JOIN du b ON a.grain = b.grain AND a.item = b.item
                     AND a.source < b.source
  GROUP BY 1, 2, 3
)
SELECT p.grain, p.source_a, p.source_b,
       round(CAST(u.n_u * {_KMV_UMOD + 1} AS DOUBLE) / p.theta, 4)
         AS est_union,
       CAST(na.ndist + nb.ndist - COALESCE(xi.x_i, 0) AS BIGINT)
         AS exact_union,
       round(CAST(COALESCE(i.n_i, 0) * {_KMV_UMOD + 1} AS DOUBLE) / p.theta,
             4) AS est_intersection,
       CAST(COALESCE(xi.x_i, 0) AS BIGINT) AS exact_intersection,
       round(CAST(COALESCE(i.n_i, 0) AS DOUBLE) / u.n_u, 6) AS est_jaccard,
       round(CAST(COALESCE(xi.x_i, 0) AS DOUBLE)
             / (na.ndist + nb.ndist - COALESCE(xi.x_i, 0)), 6)
         AS exact_jaccard
FROM pairs p
JOIN uni u ON u.grain = p.grain AND u.source_a = p.source_a
          AND u.source_b = p.source_b
LEFT JOIN inter i ON i.grain = p.grain AND i.source_a = p.source_a
                 AND i.source_b = p.source_b
JOIN nd na ON na.grain = p.grain AND na.source = p.source_a
JOIN nd nb ON nb.grain = p.grain AND nb.source = p.source_b
LEFT JOIN xi ON xi.grain = p.grain AND xi.source_a = p.source_a
            AND xi.source_b = p.source_b
""",
    doc="KMV (theta-style) distinct sketches with SET-OPERATION "
    f"estimates (Bar-Yossef et al. 2002 / theta sketches, K={_KMV_K}): "
    "per (grain, source) keep the K smallest md5-uniform item hashes; "
    "for every source pair, theta = min of the two K-th minima and "
    "|{h < theta}| / theta estimates union, intersection, and Jaccard "
    "from the summaries ALONE — never rescanning the corpus.  Exact "
    "columns sit beside each estimate (expected relative error "
    "~1/sqrt(K) ~ 12.5%), so the query is its own error report.  Two "
    "grains keep every branch live at gate scale: 'gram4' = 4-gram "
    "vocabulary per source (sets >> K: the estimation path, partial "
    "overlaps — the sketch twin of cross_source_ngram_overlap's exact "
    "scan); 'doc' = doc-id sets per source (sets < K: theta degrades "
    "to 1 and estimates MUST equal exact counts; disjoint sets cover "
    "the empty-intersection path).  Scale shape: ONE distinct-shuffle "
    "of (grain, source, hash) builds all sketches; everything after "
    f"runs on <= {_KMV_K}*|sources| rows of broadcast-sized summaries; "
    "sketches merge associatively across days/shards by min-merge — "
    "the 100 TB cross-set cardinality primitive.",
    tags=("sketch", "agg", "approx", "llm", "text"),
)
def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    grams = doc_gram_frame(d).select(
        F.lit("gram4").alias("grain"), "source", F.col("gram").alias("item")
    )
    docs = d.select(
        F.lit("doc").alias("grain"),
        "source",
        F.col("doc_id").cast("string").alias("item"),
    )
    items = grams.unionByName(docs)
    # Pin the two reused frames ONCE (optimization r13, guide §2.4):
    # without the pins, every downstream reference (thetas, ra, rb via
    # broadcast, nd, ea, eb) re-expanded its whole subtree — the
    # executed plan scanned documents 72 TIMES, re-running the
    # tokenize + 4-gram explode per branch (4.8 s at sf0.1).  One
    # distinct-item pass feeds both the sketch and the exact columns;
    # du is vocab-sized, sk is <= K * |sources| * |grains| rows.
    # kmv_minima(du) == kmv_minima(items): h is a deterministic
    # function of item and the sketch takes DISTINCT hashes either way.
    du = checkpoint_inspected(items.distinct(), "kmv.distinct_items")
    sk = checkpoint_inspected(
        kmv_minima(du, ["grain", "source"], "item"), "kmv.sketch"
    )
    thetas = sk.groupBy("grain", "source").agg(
        F.when(F.count(F.lit(1)) == _KMV_K, F.max("h"))
        .otherwise(F.lit(_KMV_UMOD + 1))
        .alias("theta")
    )
    ta = thetas.select(
        "grain", F.col("source").alias("source_a"), F.col("theta").alias("th_a")
    )
    tb = thetas.select(
        "grain", F.col("source").alias("source_b"), F.col("theta").alias("th_b")
    )
    pairs = ta.join(
        F.broadcast(tb),
        (ta["grain"] == tb["grain"]) & (F.col("source_a") < F.col("source_b")),
    ).select(
        ta["grain"],
        "source_a",
        "source_b",
        F.least("th_a", "th_b").alias("theta"),
    )
    ska = sk.select("grain", F.col("source").alias("source_a"), "h")
    skb = sk.select("grain", F.col("source").alias("source_b"), "h")
    pkey = ["grain", "source_a", "source_b"]
    ra = (
        pairs.join(F.broadcast(ska), ["grain", "source_a"])
        .where(F.col("h") < F.col("theta"))
        .select(*pkey, "h")
    )
    rb = (
        pairs.join(F.broadcast(skb), ["grain", "source_b"])
        .where(F.col("h") < F.col("theta"))
        .select(*pkey, "h")
    )
    uni = (
        ra.unionByName(rb)
        .distinct()
        .groupBy(*pkey)
        .agg(F.count(F.lit(1)).alias("n_u"))
    )
    inter = (
        ra.join(rb, [*pkey, "h"])
        .groupBy(*pkey)
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    nd = du.groupBy("grain", "source").agg(F.count(F.lit(1)).alias("ndist"))
    ea = du.select("grain", F.col("source").alias("source_a"), "item")
    eb = du.select("grain", F.col("source").alias("source_b"), "item")
    xi = (
        ea.join(eb, ["grain", "item"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy(*pkey)
        .agg(F.count(F.lit(1)).alias("x_i"))
    )
    nda = nd.select(
        "grain", F.col("source").alias("source_a"), F.col("ndist").alias("nd_a")
    )
    ndb = nd.select(
        "grain", F.col("source").alias("source_b"), F.col("ndist").alias("nd_b")
    )
    m = F.lit(_KMV_UMOD + 1)
    x_i = F.coalesce("x_i", F.lit(0))
    n_i = F.coalesce("n_i", F.lit(0))
    exact_u = F.col("nd_a") + F.col("nd_b") - x_i
    return (
        pairs.join(uni, pkey)
        .join(inter, pkey, "left")
        .join(F.broadcast(nda), ["grain", "source_a"])
        .join(F.broadcast(ndb), ["grain", "source_b"])
        .join(xi, pkey, "left")
        .select(
            *pkey,
            F.round(
                (F.col("n_u") * m).cast("double") / F.col("theta"), 4
            ).alias("est_union"),
            exact_u.cast("long").alias("exact_union"),
            F.round((n_i * m).cast("double") / F.col("theta"), 4).alias(
                "est_intersection"
            ),
            x_i.cast("long").alias("exact_intersection"),
            F.round(n_i.cast("double") / F.col("n_u"), 6).alias(
                "est_jaccard"
            ),
            F.round(x_i.cast("double") / exact_u, 6).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Round 8 (cont.): count-sketch F2 / self-join-size estimation (AMS).
# ---------------------------------------------------------------------------

_F2_D = 5  # odd, so the median is a single row estimate
_F2_W = 1024


@register(
    "selfjoin_size_estimate",
    oracle=f"""
WITH rows_j AS (SELECT unnest(generate_series(0, {_F2_D - 1})) AS j),
cells AS (
  SELECT r.j,
    {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
      % {_F2_W} AS cell,
    CAST(SUM(CASE WHEN
      ({oracle_md5_int64("'s' || CAST(r.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")})
      % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS sval
  FROM events e CROSS JOIN rows_j r GROUP BY 1, 2
),
rowest AS (
  SELECT j, CAST(SUM(sval * sval) AS BIGINT) AS est_f2 FROM cells GROUP BY j
),
med AS (
  SELECT CAST(MAX(CASE WHEN rn = {(_F2_D + 1) // 2} THEN est_f2 END)
              AS BIGINT) AS med_est
  FROM (SELECT est_f2, j,
               ROW_NUMBER() OVER (ORDER BY est_f2, j) AS rn FROM rowest)
),
exact AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2
  FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id)
)
SELECT r.j, r.est_f2, e.exact_f2, m.med_est,
  round(CAST(m.med_est - e.exact_f2 AS DOUBLE) / e.exact_f2, 6)
    AS med_rel_error
FROM rowest r, exact e, med m
""",
    doc="Self-join-size (second frequency moment F2) estimation with a "
    f"count sketch (AMS / Charikar-Chen-Farach-Colton, d={_F2_D} "
    f"signed rows x w={_F2_W} cells): per row, cells accumulate "
    "SIGNED key counts and sum-of-squares estimates F2 UNBIASEDLY "
    "(the +/-1 hash cancels cross-key collision terms in expectation "
    "— unlike the CMS min-row inner product, which only upper-bounds "
    "and overshot 3x on this fixture's 64-cell grid when measured); "
    "the MEDIAN row estimate lands within ~sqrt(2/w) ~ 4% and the "
    "exact F2 sits beside it, so the query is its own error report "
    "(measured -1.5% at gate).  F2 = SUM(c_k^2) IS the size of the "
    "self-equi-join on the key, the quantity a join planner needs "
    "BEFORE executing a suspected-skew join.  Determinism: both "
    "hashes are md5-derived (cell and sign), every accumulation is "
    "exact BIGINT, the median is a rank pick with a j tie-break, and "
    "the single relative-error division rounds at 6dp.  Scale shape: "
    "one d-way broadcast fan-out then ONE groupBy to the constant "
    f"{_F2_D}x{_F2_W} grid (map-side combinable, mergeable across "
    "shards/days by cell addition); exact side is one groupBy(key).",
    tags=("sketch", "agg", "approx", "stats"),
)
def selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fan_out(load_table(spark, sf_dir, "events")).select("user_id")
    rows_j = spark.range(_F2_D).select(F.col("id").cast("int").alias("j"))
    key = F.concat_ws(
        ":", F.col("j").cast("string"), F.col("user_id").cast("string")
    )
    sign_key = F.concat(F.lit("s"), key)
    sign = F.when(md5_int64(sign_key) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    cells = (
        ev.crossJoin(F.broadcast(rows_j))
        .select("j", (md5_int64(key) % _F2_W).alias("cell"), sign.alias("sg"))
        .groupBy("j", "cell")
        .agg(F.sum("sg").cast("long").alias("sval"))
    )
    rowest = cells.groupBy("j").agg(
        F.sum(F.col("sval") * F.col("sval")).cast("long").alias("est_f2")
    )
    from pyspark.sql import Window

    w_med = Window.orderBy("est_f2", "j")
    med = (
        rowest.withColumn("rn", F.row_number().over(w_med))
        .agg(
            F.max(
                F.when(F.col("rn") == (_F2_D + 1) // 2, F.col("est_f2"))
            )
            .cast("long")
            .alias("med_est")
        )
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"))
    )
    return (
        rowest.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(med))
        .select(
            "j",
            "est_f2",
            "exact_f2",
            "med_est",
            F.round(
                (F.col("med_est") - F.col("exact_f2")).cast("double")
                / F.col("exact_f2"),
                6,
            ).alias("med_rel_error"),
        )
    )


@register(
    "join_size_estimate",
    oracle=f"""
WITH a_side AS (
  SELECT l_partkey AS k FROM lineitem WHERE year(l_shipdate) = 1997
),
b_side AS (
  SELECT l_partkey AS k FROM lineitem WHERE year(l_shipdate) = 1998
),
rows_j AS (SELECT unnest(generate_series(0, {_F2_D - 1})) AS j),
a_cells AS (
  SELECT r.j,
    {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || CAST(a.k AS VARCHAR)")}
      % {_F2_W} AS cell,
    CAST(SUM(CASE WHEN
      ({oracle_md5_int64("'s' || CAST(r.j AS VARCHAR) || ':' || CAST(a.k AS VARCHAR)")})
      % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS sa
  FROM a_side a CROSS JOIN rows_j r GROUP BY 1, 2
),
b_cells AS (
  SELECT r.j,
    {oracle_md5_int64("CAST(r.j AS VARCHAR) || ':' || CAST(b.k AS VARCHAR)")}
      % {_F2_W} AS cell,
    CAST(SUM(CASE WHEN
      ({oracle_md5_int64("'s' || CAST(r.j AS VARCHAR) || ':' || CAST(b.k AS VARCHAR)")})
      % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS sb
  FROM b_side b CROSS JOIN rows_j r GROUP BY 1, 2
),
rowest AS (
  SELECT a.j, CAST(SUM(a.sa * b.sb) AS BIGINT) AS est
  FROM a_cells a JOIN b_cells b ON b.j = a.j AND b.cell = a.cell
  GROUP BY a.j
),
med AS (
  SELECT CAST(MAX(CASE WHEN rn = {(_F2_D + 1) // 2} THEN est END)
              AS BIGINT) AS med_est
  FROM (SELECT est, j, ROW_NUMBER() OVER (ORDER BY est, j) AS rn
        FROM rowest)
),
exact AS (
  SELECT CAST(SUM(ca * cb) AS BIGINT) AS exact_join
  FROM (SELECT k, COUNT(*) AS ca FROM a_side GROUP BY k) a
  JOIN (SELECT k, COUNT(*) AS cb FROM b_side GROUP BY k) b USING (k)
)
SELECT r.j, r.est, e.exact_join, m.med_est,
  round(CAST(m.med_est - e.exact_join AS DOUBLE) / e.exact_join, 6)
    AS med_rel_error
FROM rowest r, exact e, med m
""",
    doc="Two-table equi-join size estimation from count-sketch inner "
    "products (Alon-Gibbons-Matias-Szegedy): sketch the 1997 and 1998 "
    "lineitem partkey frequency vectors independently, estimate "
    "|L97 JOIN L98 ON partkey| as the per-row sketch dot product "
    "(signed cells make it unbiased — cross-key collisions cancel in "
    "expectation), median across rows, exact answer beside it — the "
    "planner statistic that decides broadcast vs shuffle vs salt for "
    "a join of two FUTURE inputs whose sketches were merged from "
    "daily shards without ever co-locating the data (the cross-table "
    "completion of selfjoin_size_estimate's F2, which this reduces "
    "to when both sides are the same table).  Determinism: md5 cell "
    "and sign hashes, exact BIGINT accumulation, rank-picked median "
    "with j tie-break, one rounded division.  Scale shape: each side "
    "collapses to the constant dxw grid independently (mergeable, "
    "map-side combinable); the estimate joins two 64-cell grids.",
    tags=("sketch", "agg", "approx", "join", "stats"),
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    rows_j = spark.range(_F2_D).select(F.col("id").cast("int").alias("j"))

    def sketch(side, alias):
        key = F.concat_ws(
            ":", F.col("j").cast("string"), F.col("k").cast("string")
        )
        sign_key = F.concat(F.lit("s"), key)
        sign = F.when(md5_int64(sign_key) % 2 == 0, F.lit(1)).otherwise(
            F.lit(-1)
        )
        return (
            side.crossJoin(F.broadcast(rows_j))
            .select(
                "j",
                (md5_int64(key) % _F2_W).alias("cell"),
                sign.alias("sg"),
            )
            .groupBy("j", "cell")
            .agg(F.sum("sg").cast("long").alias(alias))
        )

    a_side = li.where(F.year("l_shipdate") == 1997).select(
        F.col("l_partkey").alias("k")
    )
    b_side = li.where(F.year("l_shipdate") == 1998).select(
        F.col("l_partkey").alias("k")
    )
    a_cells = sketch(a_side, "sa")
    b_cells = sketch(b_side, "sb")
    rowest = (
        a_cells.join(b_cells, ["j", "cell"])
        .groupBy("j")
        .agg(F.sum(F.col("sa") * F.col("sb")).cast("long").alias("est"))
    )
    w_med = Window.orderBy("est", "j")
    med = (
        rowest.withColumn("rn", F.row_number().over(w_med))
        .agg(
            F.max(
                F.when(F.col("rn") == (_F2_D + 1) // 2, F.col("est"))
            )
            .cast("long")
            .alias("med_est")
        )
    )
    ca = a_side.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    cb = b_side.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    exact = (
        ca.join(cb, "k")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias(
                "exact_join"
            )
        )
    )
    return (
        rowest.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(med))
        .select(
            "j",
            "est",
            "exact_join",
            "med_est",
            F.round(
                (F.col("med_est") - F.col("exact_join")).cast("double")
                / F.col("exact_join"),
                6,
            ).alias("med_rel_error"),
        )
    )


# Dyadic-histogram quantile sketch: fixed $500 buckets over the order
# value domain (~[850, 560k] -> ~1.1k live cells at any scale); the
# quantile estimate's error is bounded by the bucket width.
_HQ_WIDTH = 500
_HQ_QUANTILES = (0.5, 0.9, 0.95, 0.99)


@register(
    "histogram_sketch_quantiles",
    oracle=f"""
WITH h AS (
  SELECT CAST(floor(o_totalprice / {_HQ_WIDTH}) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
cum AS (
  SELECT b, n,
         SUM(n) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
           AS cum_below,
         SUM(n) OVER () AS nn
  FROM h
),
qs AS (
  SELECT CAST(unnest([{", ".join(repr(q) for q in _HQ_QUANTILES)}])
              AS DOUBLE) AS q
),
hit AS (
  SELECT qs.q, cum.b, cum.n, cum.cum_below, cum.nn,
         ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY cum.b) AS rnk
  FROM qs JOIN cum
    ON qs.q * cum.nn > cum.cum_below
   AND qs.q * cum.nn <= cum.cum_below + cum.n
)
SELECT q AS quantile,
       round(b * {_HQ_WIDTH}
             + {_HQ_WIDTH} * (q * nn - cum_below) / n, 6) AS est_value,
       CAST(b AS BIGINT) AS bucket,
       CAST(n AS BIGINT) AS bucket_rows,
       CAST({_HQ_WIDTH} AS DOUBLE) AS max_abs_error
FROM hit WHERE rnk = 1
ORDER BY q
""",
    doc="Mergeable histogram quantile sketch — the quantile member of "
    "the sketch family (HLL distinct, KMV set ops, CMS heavy hitters, "
    "Bloom membership, AGMS join size): order values fold into fixed "
    f"$​{_HQ_WIDTH} buckets map-side (a bucket-count vector is the "
    "canonical mergeable summary — shard histograms add cell-wise), "
    "and each requested quantile reads off the cumulative curve with "
    "linear interpolation inside the crossing bucket, error bounded "
    "by the bucket width REGARDLESS of data size or distribution "
    "drift.  Contrast approx_price_quantiles (exact two-phase "
    "distributed selection — more accurate, but its second phase "
    "depends on the first's output): the histogram is one-pass, "
    "constant-size state, and streaming-foldable.  Determinism: "
    "integer bucket counts; the crossing-bucket predicate q*N > "
    "cum_below uses exact integer-x-literal comparisons evaluated "
    "identically on both engines; interpolation is one rounded "
    "division.  Scale shape: one map-side bucket aggregation "
    "(domain-bounded cells), windows over ~1.1k cells, a 4-row "
    "readout.",
    tags=("agg", "sketch", "profiling"),
)
def histogram_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = o.groupBy(
        F.floor(F.col("o_totalprice") / _HQ_WIDTH).cast("long").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    return histogram_quantile_report(h, _HQ_WIDTH, _HQ_QUANTILES)


def histogram_quantile_report(
    h: DataFrame, width: float, quantiles=_HQ_QUANTILES
) -> DataFrame:
    """Quantile readout from a (b, n) bucket-count frame — the shared
    algebra behind the batch query above and the streaming quantile
    monitor (streaming/jobs.py::run_quantile_monitor): because a
    histogram is the canonical mergeable summary (shard/batch counts
    add cell-wise), any frame whose per-bucket totals equal the
    batch's produces the IDENTICAL report — the monitor's batch-parity
    contract."""
    from pyspark.sql import Window

    spark = h.sparkSession
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = h.select(
        "b",
        "n",
        (F.sum("n").over(wc) - F.col("n")).alias("cum_below"),
        F.sum("n").over(wall).alias("nn"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(q)) for q in quantiles])
        ).alias("q")
    )
    hit = qs.join(
        F.broadcast(cum),
        (F.col("q") * F.col("nn") > F.col("cum_below"))
        & (F.col("q") * F.col("nn") <= F.col("cum_below") + F.col("n")),
    )
    w = Window.partitionBy("q").orderBy("b")
    return (
        hit.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            F.col("q").alias("quantile"),
            F.round(
                F.col("b") * width
                + width
                * (F.col("q") * F.col("nn") - F.col("cum_below"))
                / F.col("n"),
                6,
            ).alias("est_value"),
            F.col("b").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("bucket_rows"),
            F.lit(float(width)).alias("max_abs_error"),
        )
        .orderBy("quantile")
    )
