"""Deterministic aggregate expressions.

Double summation is order-dependent, and the driver's oracle gate hashes
values exactly (SURVEY.md §7.4.3).  Strategy: sum exact integers, not
doubles, and cast the exact total back to DOUBLE once.  Both Spark and
DuckDB produce bit-identical doubles for the same decimal value, so
partial aggregation / AQE / partition count can't change results.  The
oracle SQL must mirror the same casts — see the module docstrings of
each operator.

``dec_sum`` / ``dec_avg`` return the bits of
``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`` (the oracle's
:func:`oracle_dec_sum`), but not by casting every row: Spark casts a
double to a decimal through ``Double.toString``, a string format and
parse per row.  Instead each row becomes its count of 10^-s units
(:func:`_dec_units`):

- y = x * 10^s as a double.  When |y| < 2^45 and the fraction of y is
  more than 0.02 away from .5, units = floor(y + 0.5) — pure double
  arithmetic inside whole-stage codegen.
- Otherwise units = CAST(x AS DECIMAL(18,s)) * 10^s, the old cast, so
  the old rounding and the old errors stay: a value out of DECIMAL(18,s)
  range raises under ANSI, and NaN / infinity become NULL.

Why the fast branch is exact: the cast rounds (HALF_UP) a decimal D
that lies within half an ulp of x — for a double input the repr string
``Double.toString`` gives, which parses back to x; for an integral or
decimal input x itself, whose DOUBLE cast is correctly rounded.  y lies
within half an ulp of x * 10^s.  Below 2^45 half an ulp of x * 10^s is
at most 2^-8, so |y - D * 10^s| < 2^-8 + 2^-9 < 0.012; with y more than
0.02 from a half-integer, both round to the same integer.  The units are
summed as DECIMAL(28,0) — the same 10^28-unit capacity as the old
DECIMAL(28,s) sum, so overflow behaviour is unchanged — and the total
times 10^-s is the old sum's exact decimal value, whose DOUBLE cast is
correctly rounded and so bit-identical.  The scaled-long idea is the
one :func:`fixed6_sums` uses, made bit-compatible with the DECIMAL
oracle.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

from mapreducer_spark.plans.inspect import checkpoint_inspected

# Fast-branch bounds of _dec_units: |x * 10^s| below 2^45 keeps the double
# within 2^-9 of x * 10^s, and a fraction more than _TIE_BAND from .5
# rounds the same way as the exact decimal (see the module docstring).
_FAST_LIMIT = float(2**45)
_TIE_BAND = 0.02


def _dec_units(col: Column | str, scale: int = 2) -> Column:
    """CAST(x AS DECIMAL(18,scale)) * 10^scale as DECIMAL(18,0), computed
    in double arithmetic where that is provably the same integer (module
    docstring), and by the cast itself elsewhere."""
    c = F.col(col) if isinstance(col, str) else col
    y = c.cast("double") * F.lit(float(10**scale))
    fast = (F.abs(y) < F.lit(_FAST_LIMIT)) & (
        F.abs(y - F.floor(y) - F.lit(0.5)) > F.lit(_TIE_BAND)
    )
    exact = c.cast(f"decimal(18,{scale})") * F.lit(10**scale)
    return F.when(
        fast, F.floor(y + F.lit(0.5)).cast("decimal(18,0)")
    ).otherwise(exact.cast("decimal(18,0)"))


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """SUM(CAST(x AS DECIMAL(18,scale))) :: DOUBLE — order-independent,
    bit-identical to that formula, summed as integer units of 10^-scale
    (:func:`_dec_units`; exactness argument, the 2^45 and +-0.02 band
    bounds in the module docstring).  Overflow raises under ANSI and NaN
    rows count as NULL, exactly as with the per-row cast.

    Cross-engine caveat (found by tools/oracle_at_scale.py): the final
    decimal->double cast is only guaranteed identical across engines
    while the sum's UNSCALED value (|sum| * 10^scale) stays below 2^53;
    past that, Spark (BigDecimal.doubleValue) and DuckDB (int128 path)
    can split by 1 ulp.  At scale=2 that is |sum| < ~9e13 — far above
    every fixture — but a query whose sum can cross it should ROUND the
    exact decimal down to a smaller scale before the cast (see
    pricing_summary's sum_charge)."""
    return (
        F.sum(_dec_units(col, scale)) * F.lit(Decimal(1).scaleb(-scale))
    ).cast("double")


def dec_avg(col: Column | str, scale: int = 2) -> Column:
    """Decimal-exact sum divided by count, as DOUBLE — :func:`dec_sum`
    over the row count, with the same bounds and the same overflow and
    NaN behaviour.

    Oracle mirror: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(*)
    """
    return dec_sum(col, scale) / F.count(F.lit(1))


# Oracle-side templates (DuckDB SQL) for the same expressions.
def oracle_dec_sum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def oracle_dec_avg(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT(*)"


def fixed6_quantize(c: Column) -> Column:
    """floor(x * 1e6 + 0.5) as LONG — the fixed6 quantization step.

    Pure double arithmetic (multiply, add, floor), so it stays inside
    whole-stage codegen with zero per-row BigDecimal allocations, and it
    is bit-deterministic cross-engine: both Spark and DuckDB evaluate
    the identical IEEE-754 expression on the identical input double.
    (``F.round(x, 6)`` by contrast routes every row through a JVM
    BigDecimal string round — exact but ~10x slower, and its
    decimal-string HALF_UP can disagree with double-space rounding at
    ties, which is why the mirror must be this exact formula, not
    ``round()``.)  Exactness bound: |x| * 1e6 < 2^53 (|x| < ~9e9) —
    far above any mean-normalized moment.
    """
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def fixed6_finalize(k: str) -> Column:
    """Merge fixed6 LONG partials exactly and emit the DOUBLE sum.

    Partials are cast to DECIMAL(28,0) so the merge is exact at any
    data scale (a plain LONG merge could overflow past ~9e10 rows of
    O(100)-magnitude terms); the exact integer total divided by 1e6 and
    cast to DOUBLE is the correctly-rounded nearest double — identical
    to the oracle's ``CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) /
    1000000.0`` while the total stays below 2^53 (the same documented
    cliff as dec_sum).
    """
    return (
        (F.sum(F.col(k).cast("decimal(28,0)")) / F.lit(1000000))
        .cast("double")
        .alias(k)
    )


def oracle_fixed6_sum(expr: str) -> str:
    """DuckDB mirror of one fixed6 term: same floor quantization, BIGINT
    sum (CAST wrapped — SUM(BIGINT) is HUGEINT, banned at the gate),
    same /1e6 readout."""
    return (
        f"CAST(CAST(SUM(CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT))"
        " AS BIGINT) AS DOUBLE) / 1000000.0"
    )


def fixed6_sums(
    df,
    terms: dict,
    count_alias: str | None = "n",
):
    """Exact 6dp-quantized sums as DOUBLEs via the scaled-long fast path.

    The moment-machinery workhorse: each term is quantized to an
    integer-valued LONG in pure double arithmetic (fixed6_quantize),
    partially summed per input partition as LONGs inside whole-stage
    codegen, and only the <= num_partitions partial rows pay the exact
    wide-decimal merge.  Result is order-independent (integer sums) and
    bit-identical across engines/partitionings — the determinism the
    DECIMAL(28,6) recipe bought, without its per-row BigDecimal cost
    (~8x faster on a 15-term moment scan).

    Scale shape: LONG partial overflow needs |term| * 1e6 *
    rows_per_partition > 9.2e18 — O(100) terms times multi-million-row
    partitions sit ~4 orders of magnitude below it; the DECIMAL merge is
    O(num_partitions) rows regardless of data size, so the pattern holds
    at 100 TB where a single-level long sum could overflow.

    Returns a ONE-ROW DataFrame with one DOUBLE column per key in
    ``terms`` plus a BIGINT row count (``count_alias``, skipped if None).
    Oracle mirror per term: :func:`oracle_fixed6_sum`.
    """
    scaled = df.select(
        *[fixed6_quantize(c).alias(k) for k, c in terms.items()]
    )
    part = scaled.groupBy(F.spark_partition_id().alias("__pid")).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(k).alias(k) for k in terms],
    )
    finals = [fixed6_finalize(k) for k in terms]
    if count_alias is not None:
        finals.insert(
            0, F.coalesce(F.sum("__n"), F.lit(0)).alias(count_alias)
        )
    return part.agg(*finals)


def fixed6_grouped_sums(
    df,
    group_cols: list,
    terms: dict,
    count_alias: str | None = "n",
):
    """Grouped twin of :func:`fixed6_sums` — exact 6dp-rounded sums per
    group via the same scaled-long codegen path.

    Stage 1 groups on (group_cols..., spark_partition_id()) summing
    LONGs — entirely map-side combinable; stage 2 merges the
    groups x partitions partial rows with exact wide-decimal sums.
    Bit-identical for any partitioning (integer arithmetic throughout);
    the same per-partition overflow bound as fixed6_sums applies per
    (group, partition) slice, which is strictly smaller.
    """
    scaled = df.select(
        *group_cols,
        *[fixed6_quantize(c).alias(k) for k, c in terms.items()],
    )
    part = scaled.groupBy(
        *group_cols, F.spark_partition_id().alias("__pid")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(k).alias(k) for k in terms],
    )
    finals = [fixed6_finalize(k) for k in terms]
    if count_alias is not None:
        finals.insert(0, F.sum("__n").alias(count_alias))
    return part.groupBy(*group_cols).agg(*finals)


def salted_group_sum(
    df,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
    scale: int = 2,
    out_name: str = "total",
):
    """Two-stage salted aggregation for skewed keys (SURVEY.md §4.3).

    Stage 1 groups on (key, salt) — a hot key's rows spread across
    ``n_salts`` reducers; stage 2 merges the per-salt partials.  With
    decimal-exact sums the result is identical to a direct groupBy (the
    invariance the reference's per-distinct-key round-robin partitioner
    was trying to buy, reference src/master_manager.c:37-45).

    Note: Spark's built-in partial aggregation + AQE skew handling makes
    this unnecessary for plain sums; it's the pattern for algebraic
    aggregates whose per-key state is large (collect-style, sketches) or
    for engines/joins where one key dominates a partition.
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.xxhash64(*key_cols, F.spark_partition_id()), F.lit(n_salts))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*key_cols, "__salt")
        .agg(F.sum(F.col(value_col).cast(f"decimal(18,{scale})")).alias("__partial"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sum("__partial").cast("double").alias(out_name))
    )


def global_row_number_with_total(
    df,
    order_cols: list,
    n_partitions: int = 32,
    out_name: str = "rn",
):
    """``global_row_number`` plus the total row count, derived from the
    same per-partition size collect — callers that need N (exact NTILE
    arithmetic) save a second full scan."""
    ranked, total = _global_row_number_impl(
        df, order_cols, n_partitions, out_name
    )
    return ranked, total


def global_row_number(
    df,
    order_cols: list,
    n_partitions: int = 32,
    out_name: str = "rn",
):
    """Distributed global row_number over a UNIQUE total order.

    ``Window.orderBy(...)`` without a partitionBy collapses to ONE
    partition — a non-starter at 100 TB.  The scalable equivalent is the
    classic two-phase ranking:

    1. range-partition by the sort keys (sampled range bounds keep
       partitions balanced),
    2. count rows per partition (tiny driver-side metadata: one long per
       partition — not data),
    3. rn = (cumulative offset of this partition) + intra-partition
       row_number, where the intra-partition window is partitioned by
       the physical partition id so every window fits in one task.

    The result is identical to the single-partition window for any
    unique ordering (equal keys co-locate under range partitioning).
    """
    ranked, _total = _global_row_number_impl(
        df, order_cols, n_partitions, out_name
    )
    return ranked


def _global_row_number_impl(
    df,
    order_cols: list,
    n_partitions: int,
    out_name: str,
):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ranged = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # PIN the partitioning: repartitionByRange SAMPLES its range bounds,
    # and the sizes job below is a separate execution — without a
    # materialization the final job can re-sample different bounds and
    # the offsets silently misalign (observed: uneven NTILE buckets).
    ranged = checkpoint_inspected(ranged, "global_row_number.ranged")
    # One row per partition — metadata-sized, so collect() is legitimate.
    sizes = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # Flat literal-map offset lookup, not a chained CASE WHEN (depth =
    # n_partitions, a Catalyst stack bomb at cluster-scale partition
    # counts) and not a broadcast join (whose product-of-sizes estimate
    # wrecks downstream auto-broadcast decisions) — see
    # _global_running_sums_impl for the full rationale.
    entries = []
    for pid, off in sorted(offsets.items()):
        entries.append(F.lit(pid))
        entries.append(F.lit(off))
    offset_expr = (
        F.element_at(F.create_map(*entries), F.col("__pid"))
        if entries
        else F.lit(0)
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = (
        ranged.withColumn(
            out_name, (offset_expr + F.row_number().over(w)).cast("int")
        )
        .drop("__pid")
    )
    return ranked, acc


def global_running_sum_with_total(
    df,
    order_cols: list,
    value_col: str,
    n_partitions: int = 32,
    out_name: str = "running_sum",
    sum_cast: str = "long",
):
    """``global_running_sum`` plus the grand total, derived from the
    same per-partition totals collect — callers that need SUM(value)
    alongside the prefix sums (trim thresholds, Lorenz shares) save a
    second pass and, crucially, a second scan of the input subtree.

    ``sum_cast`` is the exact type the running sum (and its partition
    offsets) are carried in — "long" for counts/fixed6 micros, a
    DECIMAL(p,s) string for decimal-exact money sums.  The grand total
    is returned as the collected Python value (int or Decimal)."""
    summed, totals = _global_running_sums_impl(
        df, order_cols, {out_name: value_col}, n_partitions, sum_cast
    )
    return summed, totals[out_name]


def global_running_sum(
    df,
    order_cols: list,
    value_col: str,
    n_partitions: int = 32,
    out_name: str = "running_sum",
):
    """Distributed global cumulative sum over a UNIQUE total order —
    the running-sum sibling of global_row_number, same two-phase shape:

    1. range-partition by the sort keys,
    2. collect per-partition VALUE TOTALS (one long per partition —
       metadata, not data),
    3. running_sum = (prefix total of earlier partitions) + the
       intra-partition cumulative sum, whose window is partitioned by
       the physical partition id so every window fits in one task.

    Identical to ``SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` for any unique ordering, with no single-partition
    global window."""
    summed, _totals = _global_running_sums_impl(
        df, order_cols, {out_name: value_col}, n_partitions, "long"
    )
    return summed


def global_running_sums_with_totals(
    df,
    order_cols: list,
    values: dict,
    n_partitions: int = 32,
    sum_cast: str = "long",
):
    """Several prefix sums over ONE shared unique total order — e.g.
    two-sample ECDFs (KS test) cumulate both sample counts over the same
    value grid.  One range partitioning, one checkpoint, one
    per-partition totals collect for all of them.

    ``values`` maps output column name -> input value column.  Returns
    (df, totals) where totals maps output name -> grand total (int or
    Decimal, per ``sum_cast``)."""
    return _global_running_sums_impl(
        df, order_cols, values, n_partitions, sum_cast
    )


def _global_running_sums_impl(
    df,
    order_cols: list,
    values: dict,
    n_partitions: int,
    sum_cast: str,
):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ranged = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # Same pinning rationale as _global_row_number_impl: the totals job
    # and the final job must see the SAME sampled range bounds.
    ranged = checkpoint_inspected(ranged, "global_running_sums.ranged")
    per_pid = {
        r["__pid"]: r
        for r in ranged.groupBy("__pid")
        .agg(*[F.sum(vc).alias(out) for out, vc in values.items()])
        .collect()
    }
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Offsets ride in as a FLAT literal-map lookup
    # (element_at(create_map(...), __pid)), not a chained CASE WHEN:
    # the when/otherwise nesting is n_partitions DEEP, which overflows
    # Catalyst's expression tree at the thousands of partitions a
    # 1000-executor cluster wants (fine at 32, a stack bomb at 4096) —
    # create_map is one node with 2*n flat children.  Not a broadcast
    # offsets JOIN either: Spark's size-only join estimate is the
    # PRODUCT of the child sizes, which inflated the helper's output
    # stats past the auto-broadcast threshold and flipped downstream
    # cross joins to CartesianProduct (caught by a plan sweep).
    # String values + cast keep LONG and any DECIMAL(p,s) exact (a raw
    # Decimal literal would infer DecimalType(38,18) and shrink the
    # integral headroom).
    grand_totals = {}
    summed = ranged
    for out, vc in values.items():
        entries = []
        acc = 0
        for pid in sorted(per_pid):
            entries.append(F.lit(pid))
            entries.append(F.lit(str(acc)).cast(sum_cast))
            acc += per_pid[pid][out] or 0
        grand_totals[out] = acc
        offset_expr = (
            F.element_at(F.create_map(*entries), F.col("__pid"))
            if entries
            else F.lit("0").cast(sum_cast)
        )
        summed = summed.withColumn(
            out, (offset_expr + F.sum(vc).over(w)).cast(sum_cast)
        )
    return summed.drop("__pid"), grand_totals


def ntile_from_rn(rn_col, total: int, n_tiles: int):
    """NTILE(n) bucket from a 1-based global row number — the exact
    semantics of the window function (first ``total % n`` buckets get
    one extra row), computable without any global window."""
    from pyspark.sql import functions as F

    q, r = divmod(total, n_tiles)
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(rn_col <= big, ((rn_col - 1) / (q + 1)).cast("int") + 1)
        .otherwise(r + ((rn_col - big - 1) / q).cast("int") + 1)
        if q > 0
        else ((rn_col - 1) % n_tiles + 1)  # degenerate: fewer rows than tiles
    )


def fact_salt(
    fact: "DataFrame",
    fact_key: str,
    n_salts: int,
    tiebreaker: str | None = None,
):
    """The deterministic fact-side salt column salted_join applies —
    factored out so its spreading behavior is directly testable."""
    from pyspark.sql import functions as F

    if tiebreaker is not None:
        hash_cols = [F.col(tiebreaker)]
    else:
        # simpleString substring check also catches maps NESTED inside
        # structs/arrays, which xxhash64 rejects just the same.
        hash_cols = [
            F.col(f.name)
            for f in fact.schema.fields
            if "map<" not in f.dataType.simpleString()
        ]
        if not hash_cols:  # all-map schema: fall back to the key column
            hash_cols = [F.col(fact_key)]
    return F.pmod(F.xxhash64(*hash_cols), F.lit(n_salts))


def salted_join(
    fact: "DataFrame",
    dim: "DataFrame",
    fact_key: str,
    dim_key: str,
    n_salts: int = 16,
    tiebreaker: str | None = None,
):
    """Skew-resistant equi-join: salt the fact side, replicate the dim
    side across all salts, join on (key, salt).

    A hot fact key no longer lands on one reducer — its rows spread over
    ``n_salts`` tasks, each joining against a replicated dim row.  Same
    result set as the plain join (replication x disjoint salt ranges =
    exactly one match per original pair).  Use when AQE's skew-join
    splitting can't help (e.g. the skewed side feeds an aggregation, or
    a non-AQE engine); cost is dim inflated n_salts x, so keep the dim
    the small side.

    Determinism contract: the salt is a hash of the fact row's
    HASHABLE (atomic-typed) columns, so a task retry or AQE replan
    reproduces the same physical distribution
    (monotonically_increasing_id would not — it renumbers on every
    replan).  Map-typed columns are excluded (xxhash64 fails analysis
    on them).  Rows identical across all hashable columns share a salt
    — the common skew shape where a hot key's rows are EXACT duplicates
    gets no relief from row-hashing alone; pass ``tiebreaker`` (a
    varying column, e.g. an upstream event id or file+offset) to
    restrict the hash to that column and spread such rows.
    """
    from pyspark.sql import functions as F

    salted_fact = fact.withColumn(
        "__salt", fact_salt(fact, fact_key, n_salts, tiebreaker)
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    joined = salted_fact.join(
        salted_dim,
        (F.col(fact_key) == F.col(dim_key))
        & (salted_fact["__salt"] == salted_dim["__salt"]),
    )
    return joined.drop("__salt")
