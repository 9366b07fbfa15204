"""Mathematical invariants of the round-8 statistical operators.

These are THIRD checks, independent of both the Spark implementation
and the DuckDB oracle formulation: each asserts a property the
STATISTIC itself must satisfy (bounds, monotonicity, accounting
identities), so a bug that slipped into both engines identically — the
one failure mode the hash gate cannot see — still gets caught.
"""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import given, settings, strategies as st

from mapreducer_spark.registry import all_queries


def _rows(spark, sf_dir, name):
    return all_queries()[name].fn(spark, sf_dir).collect()


def test_bounded_statistics_stay_in_range(spark, sf_dir):
    """Correlations in [-1,1]; KS, rates, shares, rich-club, JSD in
    [0,1]; chi-square and F nonnegative."""
    (row,) = _rows(spark, sf_dir, "spend_frequency_rank_correlation")
    assert -1.0 <= row.spearman_rho <= 1.0

    for r in _rows(spark, sf_dir, "lineitem_correlation_matrix"):
        assert -1.0 <= r.pearson_r <= 1.0

    (row,) = _rows(spark, sf_dir, "copurchase_assortativity")
    assert -1.0 <= row.assortativity <= 1.0

    (row,) = _rows(spark, sf_dir, "returns_price_ks_test")
    assert 0.0 <= row.ks_stat <= 1.0 and row.crit_95 > 0

    (row,) = _rows(spark, sf_dir, "priority_mix_chisq")
    assert row.chi2 >= 0 and row.df == (row.n_priorities - 1) * (
        row.n_years - 1
    )

    (row,) = _rows(spark, sf_dir, "price_anova_by_priority")
    assert row.f_stat >= 0 and row.df_between == row.n_groups - 1

    for r in _rows(spark, sf_dir, "copurchase_rich_club"):
        assert 0.0 <= r.rich_club_coeff <= 1.0

    for r in _rows(spark, sf_dir, "source_js_divergence"):
        assert 0.0 <= r.jsd_bits <= 1.0 + 1e-9  # JSD (log2) is <= 1

    (row,) = _rows(spark, sf_dir, "copurchase_brand_modularity")
    assert -1.0 <= row.modularity <= 1.0


def test_survival_curve_monotone_and_bounded(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "customer_survival_curve"),
        key=lambda r: r.horizon,
    )
    prev = 1.0
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= prev + 1e-9  # S(t) nonincreasing
        prev = r.survival


def test_growth_decomposition_accounting_identity(spark, sf_dir):
    """volume_effect + price_effect == total_change per brand (the
    construction claim in the docstring, checked to rounding)."""
    for r in _rows(spark, sf_dir, "revenue_growth_decomposition"):
        assert (
            abs((r.volume_effect + r.price_effect) - r.total_change)
            < 0.02  # two 2dp-rounded addends
        )


def test_lift_table_monotone_capture(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "quality_score_lift_table"),
        key=lambda r: r.decile,
    )
    assert rows[-1].capture_rate == 1.0
    prev = 0.0
    for r in rows:
        assert r.capture_rate >= prev - 1e-9
        prev = r.capture_rate
        assert r.lift >= 0


def test_calibration_ece_is_weighted_gap_mean(spark, sf_dir):
    rows = _rows(spark, sf_dir, "classifier_calibration_bins")
    n = sum(r.n_docs for r in rows)
    ece = sum(r.n_docs * r.gap for r in rows) / n
    assert abs(rows[0].ece - ece) < 1e-4
    for r in rows:
        assert 0.0 <= r.mean_predicted <= 1.0
        assert 0.0 <= r.observed_rate <= 1.0


def test_trimmed_mean_between_min_and_mean_bounds(spark, sf_dir):
    (row,) = _rows(spark, sf_dir, "trimmed_mean_order_value")
    # Right-skewed distribution: trimming the tails pulls the mean in;
    # winsorizing moves it less than trimming.
    assert row.k_trimmed_each_side == row.n_orders // 20
    assert row.trimmed_mean_5pct > 0
    assert (
        min(row.trimmed_mean_5pct, row.winsorized_mean_5pct)
        <= row.mean
        <= max(row.mean, row.winsorized_mean_5pct) + 1e-6
    )


def test_bootstrap_ci_brackets_the_mean(spark, sf_dir):
    (row,) = _rows(spark, sf_dir, "bootstrap_revenue_ci")
    assert row.ci_lo_95 <= row.boot_mean <= row.ci_hi_95
    # The resampled mean should sit near the full mean (Poisson(1)
    # bootstrap is unbiased; 50 replicates at fixture n are tight).
    assert abs(row.boot_mean - row.full_mean) / row.full_mean < 0.05
    assert row.ci_lo_95 <= row.full_mean <= row.ci_hi_95


def test_lifecycle_states_accounting_identity(spark, sf_dir):
    """active(W) - active(W-1) == new + resurrected - churned for every
    week where churn is defined."""
    rows = _rows(spark, sf_dir, "user_lifecycle_states")
    byweek: dict = {}
    for r in rows:
        byweek.setdefault(r.week, {})[r.state] = r.n_users
    weeks = sorted(byweek)
    for prev, cur in zip(weeks, weeks[1:]):
        if "churned" not in byweek[cur]:
            continue
        active = lambda w: sum(  # noqa: E731
            v for k, v in byweek[w].items() if k != "churned"
        )
        delta = active(cur) - active(prev)
        flows = (
            byweek[cur].get("new", 0)
            + byweek[cur].get("resurrected", 0)
            - byweek[cur]["churned"]
        )
        assert delta == flows


def test_datasheet_reconciles_with_dedicated_operators(spark, sf_dir):
    (ds,) = _rows(spark, sf_dir, "corpus_datasheet")
    # Exact-dup rate reconciles with the content-hash group count over
    # the RAW corpus (dedup_exact runs on the synthesized-dup corpus,
    # so reconcile against a direct recount here).
    from pyspark.sql import functions as F

    from mapreducer_spark.functions.hashes import md5_int64
    from mapreducer_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    distinct = d.select(md5_int64(F.col("text"))).distinct().count()
    assert ds.n_docs == n
    assert abs(ds.exact_dup_rate - (1.0 - distinct / n)) < 1e-6
    # Entropy reconciles with corpus_entropy_rate's unigram number.
    (er,) = _rows(spark, sf_dir, "corpus_entropy_rate")
    assert abs(ds.unigram_entropy_bits - er.unigram_entropy_bits) < 1e-6
    assert ds.vocab_size == er.vocab_size


def test_weighted_median_dominates_row_median_under_qty_weighting(
    spark, sf_dir
):
    """Sanity: weighted quantile picks are actual data values and the
    p90 is >= the median per group."""
    for r in _rows(spark, sf_dir, "quantity_weighted_price_median"):
        assert r.weighted_median_price <= r.weighted_p90_price
        assert r.total_weight > 0


def test_vocab_growth_monotone(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "vocab_growth_curve"), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b.tokens_seen >= a.tokens_seen
        assert b.types_seen >= a.types_seen
    # Final checkpoint covers the whole corpus: reconcile with the
    # datasheet's totals.
    (ds,) = _rows(spark, sf_dir, "corpus_datasheet")
    assert rows[-1].tokens_seen == ds.total_tokens
    assert rows[-1].types_seen == ds.vocab_size


def test_quantile_map_edges_ordered(spark, sf_dir):
    from collections import defaultdict

    rows = _rows(spark, sf_dir, "quality_score_quantile_map")
    by_src = defaultdict(list)
    for r in rows:
        assert 0.0 <= r.src_edge <= 1.0 and 0.0 <= r.global_edge <= 1.0
        by_src[r.source].append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.quartile)
        for a, b in zip(rs, rs[1:]):
            assert b.src_edge >= a.src_edge, src
            assert b.global_edge >= a.global_edge


def test_minhash_estimator_unbiased_and_bounded(spark, sf_dir):
    (row,) = _rows(spark, sf_dir, "minhash_estimator_error")
    assert 0.0 <= row.mean_estimated_j <= 1.0
    assert 0.0 <= row.mean_exact_shingle_j <= 1.0
    assert row.mae_vs_shingle >= abs(row.mean_bias_vs_shingle) - 1e-9
    # Unbiasedness: |bias| well under the per-pair binomial sd ~1/sqrt(16).
    assert abs(row.mean_bias_vs_shingle) < 0.25 / 4


def test_ivf_balance_shares_sum_to_one(spark, sf_dir):
    rows = _rows(spark, sf_dir, "ivf_list_balance")
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    (imb,) = {r.imbalance_factor for r in rows}
    assert imb >= 1.0 - 1e-6  # Cauchy-Schwarz: balanced is the minimum
    assert sum(r.n_vectors for r in rows) > 0


def test_in_session_reconciles_with_session_count(spark, sf_dir):
    (conv,) = _rows(spark, sf_dir, "in_session_conversion")
    n_sessions = len(_rows(spark, sf_dir, "event_sessions"))
    assert conv.n_sessions == n_sessions
    assert conv.converting_sessions <= conv.sessions_with_view <= n_sessions


_DEC_SCALES = (2, 4, 6)


def _old_dec_sum(c, scale):
    """The per-row-cast formula dec_sum replaced, kept as the reference:
    the new kernel must return its bits."""
    from pyspark.sql import functions as F

    return F.sum(F.col(c).cast(f"decimal(18,{scale})")).cast("double")


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def _dec_sum_pairs(df, key):
    """{key: [(old, new) per scale, then dec_avg's (old, new)]} over the
    frame's ``x`` column, one aggregation for all scales."""
    from pyspark.sql import functions as F

    from mapreducer_spark.functions.agg import dec_avg, dec_sum

    aggs = []
    for s in _DEC_SCALES:
        aggs += [
            _old_dec_sum("x", s).alias(f"o{s}"),
            dec_sum("x", s).alias(f"n{s}"),
        ]
    aggs += [
        (_old_dec_sum("x", 4) / F.count(F.lit(1))).alias("oa"),
        dec_avg("x", 4).alias("na"),
    ]
    out = df.groupBy(key).agg(*aggs) if key else df.agg(*aggs)
    return {
        (r[key] if key else None): [
            (r[f"o{s}"], r[f"n{s}"]) for s in (*_DEC_SCALES, "a")
        ]
        for r in out.collect()
    }


def _assert_dec_sum_bits_match(spark, values):
    """dec_sum/dec_avg equal the old formula bit for bit, per row and
    per group of 7, at every scale."""
    rows = [(i, i % 7, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "i int, g int, x double")
    for key in ("i", "g"):
        for k, pairs in _dec_sum_pairs(df, key).items():
            for old, new in pairs:
                assert _bits(new) == _bits(old), (key, k, old, new)


def _scale_edges():
    """Values at the 2^45 / 10^s fast-branch edge, a few ulps each side."""
    out = []
    for s in _DEC_SCALES:
        for edge in (2.0**45 / 10**s, -(2.0**45) / 10**s):
            down = up = edge
            out.append(edge)
            for _ in range(3):
                down = math.nextafter(down, 0.0)
                up = math.nextafter(up, math.copysign(math.inf, edge))
                out += [down, up]
    return out


_DEC_EDGE_VALUES = [
    1.00005, -0.00005, 2.675, -2.675, 0.125, -0.125, 0.005, -0.005,
    0.015, 1.0000005, -1.0000005, 0.0, -0.0, 1e-300, -1e-300, 5e-324,
    None, 123456.785, 98765.43215, 0.30000000000000004,
    # TPC-H-style 2-dp x 2-dp products, plain and as price * (1 - disc)
    901.0 * 0.04, 1234.56 * 0.07, 99999.99 * 0.1, 54321.01 * (1 - 0.06),
    37.5 * 0.05, 104949.5 * (1 - 0.03),
] + _scale_edges()


def test_dec_sum_matches_old_formula_on_edge_cases(spark):
    """Exact ties, the 2^45 edge, signed zero, NULL, subnormals and
    2-dp products: the kernel's bits equal the per-row-cast formula."""
    _assert_dec_sum_bits_match(spark, _DEC_EDGE_VALUES)


def test_dec_sum_empty_and_null_groups_match_old_formula(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 1.5), (2, None)], "g int, x double"
    )
    got = _dec_sum_pairs(df, "g")
    for pairs in got.values():
        for old, new in pairs:
            assert _bits(new) == _bits(old)
    assert got[1][0] == (None, None)  # all-NULL group
    assert got[2][0] == (1.5, 1.5)
    (empty,) = _dec_sum_pairs(df.where(F.lit(False)), None).values()
    assert all(p == (None, None) for p in empty[: len(_DEC_SCALES)])


def test_dec_sum_group_sums_past_2_53_units_match_old_formula(spark):
    """Group sums above 2^53 units, from fast-branch rows (3.4e11 at
    scale 2) and slow-branch rows (3.4e11 at scale 6, 4e11 at scale 2)."""
    values = [3.4e11 + i / 100 for i in range(2800)] + [4e11, -4e11 + 0.01]
    # every group of 7 (the helper's grouping) crosses 2^53 units
    assert min(sum(values[g::7]) * 100 for g in range(7)) > 2**53
    _assert_dec_sum_bits_match(spark, values)


_dec_value = st.one_of(
    st.none(),
    st.floats(min_value=-1e11, max_value=1e11, allow_nan=False),
    # magnitudes whose x * 10^s crosses 2^45 at some scale
    st.builds(
        lambda m, neg: -m if neg else m,
        st.floats(min_value=1e7, max_value=1e11),
        st.booleans(),
    ),
    st.builds(
        lambda k, s: (k + 0.5) / 10**s,
        st.integers(min_value=-(10**12), max_value=10**12),
        st.sampled_from(_DEC_SCALES),
    ),
    st.builds(
        lambda a, b: (a / 100) * (b / 100),
        st.integers(min_value=-(10**7), max_value=10**7),
        st.integers(min_value=0, max_value=100),
    ),
    st.builds(
        lambda a, b: (a / 100) * (1 - b / 100),
        st.integers(min_value=0, max_value=10**7),
        st.integers(min_value=0, max_value=10),
    ),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_dec_value, min_size=1, max_size=300))
def test_dec_sum_matches_old_formula_hypothesis(spark, values):
    _assert_dec_sum_bits_match(spark, values)


def test_dec_sum_nan_and_out_of_range_behave_as_before(spark):
    """A NaN row counts as NULL, and a value past DECIMAL(18,4) raises
    the same error under ANSI, exactly as the per-row cast did."""
    from mapreducer_spark.functions.agg import dec_sum

    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("nan")), (2, 2.5)], "g int, x double"
    )
    got = _dec_sum_pairs(df, "g")
    assert got[1][0] == (None, None)
    assert got[2][0] == (2.5, 2.5)

    key = "spark.sql.ansi.enabled"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        big = spark.createDataFrame([(1.5e14,)], "x double")
        errors = []
        for agg in (_old_dec_sum("x", 4), dec_sum("x", 4)):
            with pytest.raises(Exception) as e:
                big.agg(agg.alias("v")).collect()
            errors.append(e.value)
        old_err, new_err = errors
        assert type(new_err) is type(old_err)
        assert new_err.getCondition() == old_err.getCondition()
        assert "NUMERIC_VALUE_OUT_OF_RANGE" in old_err.getCondition()
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_dec_sum_partition_count_invariant(spark):
    """One partition and 32 partitions give the same bits."""
    import random

    from mapreducer_spark.functions.agg import dec_sum

    rnd = random.Random(11)
    values = [
        round(rnd.uniform(-1e5, 1e5), 2) * round(rnd.uniform(0, 1), 2)
        for _ in range(3000)
    ] + _DEC_EDGE_VALUES
    df = spark.createDataFrame(
        [(i % 13, v) for i, v in enumerate(values)], "g int, x double"
    )
    results = []
    for n in (1, 32):
        rows = (
            df.repartition(n)
            .groupBy("g")
            .agg(*[dec_sum("x", s).alias(f"s{s}") for s in _DEC_SCALES])
            .collect()
        )
        results.append(
            {r.g: [_bits(r[f"s{s}"]) for s in _DEC_SCALES] for r in rows}
        )
    assert results[0] == results[1]


def test_fixed6_quantize_cross_engine_and_sum_exactness(spark):
    """The fixed6 primitive's two contracts, adversarially probed:

    1. Cross-engine determinism: fixed6_quantize (floor(x*1e6+0.5) as
       LONG in pure double arithmetic) must equal DuckDB's evaluation
       of the literal same expression for doubles spanning magnitudes,
       signs, ulp-of-a-tie neighborhoods, and round-vs-floor divergence
       bait (0.0000005-style values).
    2. Sum exactness: fixed6_sums / fixed6_grouped_sums must equal the
       old DECIMAL(28,6)-sum-of-rounded recipe's ORDER INVARIANCE —
       identical results under 1 vs 32 partitions.
    """
    import duckdb

    from pyspark.sql import functions as F

    from mapreducer_spark.functions.agg import (
        fixed6_grouped_sums,
        fixed6_quantize,
        fixed6_sums,
    )

    vals = [
        0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1e-7, -1e-7, 5e-7, -5e-7,
        0.0000005, 0.0000015, -0.0000025, 123.4567895, -123.4567895,
        1.0000005, 0.9999995, 8999.999999, -8999.999999, 3.14159265358979,
        2.718281828459045e3, -2.718281828459045e3, 1234567.891011,
    ]
    # ulp neighbors of a 6dp tie — the exact class where decimal-string
    # HALF_UP (F.round) and double-space rounding disagree.
    import math

    vals += [math.nextafter(0.0000005, 0), math.nextafter(0.0000005, 1)]

    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r.q
        for r in sdf.select(fixed6_quantize(F.col("x")).alias("q"))
        .orderBy("x")
        .collect()
    ]
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS q "
            "FROM (SELECT unnest(?) AS x) ORDER BY x",
            [vals],
        ).fetchall()
    ]
    con.close()
    assert got == want

    # Order/partitioning invariance of the staged sums.
    base = spark.range(0, 20000).select(
        (F.col("id") % 7).alias("g"),
        (F.sin(F.col("id").cast("double")) * 137.035999).alias("x"),
    )
    terms = {"sx": F.col("x"), "sxx": F.col("x") * F.col("x")}
    one = fixed6_sums(base.coalesce(1), terms).collect()[0]
    many = fixed6_sums(base.repartition(32), terms).collect()[0]
    assert tuple(one) == tuple(many)
    g_one = {
        r.g: (r.n, r.sx, r.sxx)
        for r in fixed6_grouped_sums(base.coalesce(1), ["g"], terms).collect()
    }
    g_many = {
        r.g: (r.n, r.sx, r.sxx)
        for r in fixed6_grouped_sums(
            base.repartition(32), ["g"], terms
        ).collect()
    }
    assert g_one == g_many


def test_dlap_thresholds_partition_the_lattice():
    """The inverse-CDF threshold table must tile [0, 2^52) exactly —
    contiguous, gap-free, full coverage — for EVERY epsilon in use, and
    the implied pmf must be symmetric and unimodal (discrete Laplace).
    A mis-tiled table silently biases every DP release."""
    from mapreducer_spark.operators.profiling import (
        _DP_LATTICE,
        _DP_SWEEP_EPS,
        _dlap_threshold_rows,
    )

    for _, eps in _DP_SWEEP_EPS:
        rows = _dlap_threshold_rows(eps)
        assert rows[0][1] == 0 and rows[-1][2] == _DP_LATTICE
        for (_, _, hi_prev), (_, lo, _) in zip(rows, rows[1:]):
            assert lo == hi_prev  # contiguous, no gap, no overlap
        ks = [k for k, _, _ in rows]
        assert ks == sorted(ks) and ks == [-k for k in reversed(ks)]
        widths = {k: hi - lo for k, lo, hi in rows}
        # symmetric up to the cumulative-float-rounding drift of the
        # running CDF (a handful of lattice units out of 2^52 — the
        # bound is RELATIVE, the tiling above is what must be exact);
        # peak at 0
        for k in ks:
            if k > 0:
                assert abs(widths[k] - widths[-k]) <= 4 + widths[k] * 1e-4
                assert widths[k] <= widths[0]
        # tighter budgets carry wider noise support
    bounds = [max(k for k, _, _ in _dlap_threshold_rows(e)) for _, e in _DP_SWEEP_EPS]
    assert bounds == sorted(bounds, reverse=True)


def test_dp_count_release_error_within_support(spark, sf_dir):
    """Every realized DP error is bounded by the truncation bound B of
    its mechanism, and the clamp keeps releases nonnegative."""
    from mapreducer_spark.operators.profiling import _DP_COUNT_ROWS

    b_bound = max(k for k, _, _ in _DP_COUNT_ROWS)
    for r in _rows(spark, sf_dir, "dp_nation_order_counts"):
        assert r.dp_orders >= 0
        assert abs(r.dp_noise) <= b_bound
        assert r.abs_err <= max(b_bound, r.true_orders)

    for r in _rows(spark, sf_dir, "dp_epsilon_error_sweep"):
        assert r.n_cells == 25
        assert 0 <= r.mean_abs_err
        assert r.max_abs_err <= r.l1_err
        assert r.expected_abs_noise > 0


def test_local_dp_debiasing_identity(spark, sf_dir):
    """The randomized-response estimator must invert the mechanism
    algebraically: debiased == (reported_share - f) / (1 - 2f) and the
    shares must reconcile with the integer counts."""
    for r in _rows(spark, sf_dir, "local_dp_urgent_share"):
        assert 0 <= r.true_urgent <= r.n_orders
        assert 0 <= r.reported_urgent <= r.n_orders
        est = (r.reported_urgent / r.n_orders - 0.25) / 0.5
        assert abs(r.debiased_share - est) < 1e-6


def test_density_prune_accounting(spark, sf_dir):
    """Pruned + kept == members; the cut never exceeds the target
    fraction (group-granular cut can only UNDERSHOOT); pruned side is
    the more-prototypical side (higher mean cosine than kept)."""
    from mapreducer_spark.operators.similarity import _DENSITY_PRUNE_FRAC

    rows = _rows(spark, sf_dir, "density_prune_plan")
    assert rows  # every gate fixture has nonempty clusters
    for r in rows:
        assert r.n_pruned + r.n_kept == r.n_members
        assert r.n_pruned <= int(r.n_members * _DENSITY_PRUNE_FRAC)
        if r.n_pruned and r.n_kept:
            assert r.avg_sim_pruned >= r.avg_sim_kept
            assert r.avg_sim_pruned >= r.prune_threshold_sim


def test_dp_clamped_sum_release_reconciles(spark, sf_dir):
    """Clamped-sum DP release: dp_revenue is exactly dp_units * q,
    noise stays within the mechanism's truncation support, releases
    are nonnegative, and clamping is visible (n_clamped <= n_orders,
    true_units <= n_orders * C/q)."""
    from mapreducer_spark.operators.profiling import (
        _DP_SUM_DELTA,
        _DP_SUM_ROWS,
        _DP_SUM_UNIT,
    )

    b_bound = max(k for k, _, _ in _DP_SUM_ROWS)
    for r in _rows(spark, sf_dir, "dp_clamped_revenue_by_nation"):
        assert r.dp_revenue == r.dp_units * _DP_SUM_UNIT
        assert r.dp_units >= 0
        assert abs(r.dp_noise) <= b_bound
        assert 0 <= r.n_clamped <= r.n_orders
        assert r.true_units <= r.n_orders * _DP_SUM_DELTA


def test_dp_histogram_composition_accounting(spark, sf_dir):
    """The DP histogram's budget accounting: the
    release prices itself under PARALLEL composition (eps_total == the
    per-cell epsilon, never cells x eps) because disjoint clamped
    buckets give per-cell sensitivity 1; a SECOND release under a new
    salt is a fresh mechanism run (different noise) whose cost would
    ADD under sequential composition; and a same-salt re-run is
    byte-identical, so replay can never double-spend.  Also pins the
    support contract (full fixed grid, empty cells included) and that
    the quantile readout is pure post-processing of the same release."""
    from mapreducer_spark.operators.profiling import (
        _DPH_BUCKETS,
        _DPH_EPS,
        _DPH_SALT,
        _dp_hist_released,
    )

    rows = _rows(spark, sf_dir, "dp_doc_length_histogram")
    # Parallel composition: whole-release price == per-cell epsilon.
    assert all(r.epsilon == _DPH_EPS and r.eps_total == _DPH_EPS for r in rows)
    # Support non-leakage: EVERY grid cell released, occupied or not.
    assert sorted(r.bucket for r in rows) == list(range(_DPH_BUCKETS))
    assert any(r.true_n == 0 for r in rows)  # fixture leaves empty cells
    # Post-processed CDF is monotone (0-clamp makes counts nonnegative).
    by_b = sorted(rows, key=lambda r: r.bucket)
    assert all(r.dp_n >= 0 for r in by_b)
    cdf = [r.dp_cdf_n for r in by_b]
    assert cdf == sorted(cdf)
    assert cdf[-1] == sum(r.dp_n for r in by_b)

    # Same salt -> byte-identical draw (replay cannot double-spend)...
    a = {(r.bucket, r.dp_noise) for r in _dp_hist_released(spark, sf_dir).collect()}
    b = {(r.bucket, r.dp_noise) for r in _dp_hist_released(spark, sf_dir).collect()}
    assert a == b
    # ...while a new salt is a SECOND mechanism run: fresh noise, whose
    # epsilon adds sequentially (two releases = 2 x _DPH_EPS spent).
    c = {
        (r.bucket, r.dp_noise)
        for r in _dp_hist_released(spark, sf_dir, salt="dp-hist-v2|").collect()
    }
    assert a != c

    # Quantile readout: post-processing of the SAME release — same
    # budget fields, estimates inside the clamped domain, monotone in q.
    qrows = sorted(
        _rows(spark, sf_dir, "dp_doc_length_quantiles"),
        key=lambda r: r.quantile,
    )
    assert [r.quantile for r in qrows] == [0.5, 0.9, 0.99]
    assert all(r.eps_total == _DPH_EPS for r in qrows)
    ests = [r.dp_est_chars for r in qrows]
    assert ests == sorted(ests)
    assert all(0 <= e <= _DPH_BUCKETS * 32 for e in ests)
    assert _DPH_SALT == "dp-hist-v1|"  # salt is the release identity


def test_mmr_rerank_invariants(spark, sf_dir):
    """MMR re-rank contracts: 5 picks per query, all from the top-10
    pool, no duplicates; rank 1 is the relevance argmax; greedy scores
    are non-increasing in rank (the round-r winner was available at
    round r-1 with a no-larger penalty — allow 2e-6 for the 6dp
    rounds); and the selected set is genuinely more diverse than plain
    top-5-by-relevance (lower mean intra-set similarity on the
    fixture)."""
    from collections import defaultdict

    from mapreducer_spark.operators.similarity import (
        _MMR_K,
        similarity_topk,
        similarity_topk_mmr,
    )

    mmr = list(similarity_topk_mmr(spark, sf_dir).collect())
    pool_rows = list(similarity_topk(spark, sf_dir).collect())
    pool = defaultdict(set)
    for r in pool_rows:
        pool[r.q_id].add(r.vec_id)
    by_q = defaultdict(list)
    for r in mmr:
        by_q[r.q_id].append(r)
    assert set(by_q) == set(pool)
    top_rel = {
        q: min(
            (r for r in pool_rows if r.q_id == q),
            key=lambda r: (-r.sim, r.vec_id),
        ).vec_id
        for q in pool
    }
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.mmr_rank)
        assert [r.mmr_rank for r in rows] == list(range(1, _MMR_K + 1))
        ids = [r.vec_id for r in rows]
        assert len(set(ids)) == _MMR_K and set(ids) <= pool[q]
        assert ids[0] == top_rel[q]
        scores = [r.mmr_score for r in rows]
        assert all(a >= b - 2e-6 for a, b in zip(scores, scores[1:]))

    # Diversity: mean pairwise cosine within the MMR set is LOWER than
    # within plain top-5-by-relevance, averaged over queries (the whole
    # point of the re-rank; pinned on the fixture).
    import itertools

    import numpy as np

    from mapreducer_spark.sources import load_table

    em = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def mean_sim(ids):
        sims = [
            float(
                em[a] @ em[b] / (np.linalg.norm(em[a]) * np.linalg.norm(em[b]))
            )
            for a, b in itertools.combinations(ids, 2)
        ]
        return sum(sims) / len(sims)

    topk_by_q = defaultdict(list)
    for r in sorted(pool_rows, key=lambda r: (r.q_id, -r.sim, r.vec_id)):
        if len(topk_by_q[r.q_id]) < _MMR_K:
            topk_by_q[r.q_id].append(r.vec_id)
    mmr_div = sum(mean_sim([r.vec_id for r in by_q[q]]) for q in by_q) / len(by_q)
    rel_div = sum(mean_sim(topk_by_q[q]) for q in by_q) / len(by_q)
    assert mmr_div <= rel_div


def test_dp_histogram_release_rejects_out_of_grid_buckets(spark):
    """A true_h bucket outside [0, n_buckets) must fail
    LOUD at execution, not silently drop its mass — a left-join drop
    would under-report identically in Spark and the oracle, so the
    hash gate could never catch it."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mapreducer_spark.operators.profiling import dp_histogram_release

    ok_h = spark.range(4).select(
        F.col("id").alias("bucket"), (F.col("id") * 10 + 1).alias("tn")
    )
    rel = dp_histogram_release(ok_h, 8, "test-grid-v1|")
    rows = {r.bucket: r.true_n for r in rel.collect()}
    assert set(rows) == set(range(8))  # full grid, empty cells noised
    assert rows[2] == 21

    for bad_bucket in (-1, 8):
        bad_h = ok_h.unionByName(
            spark.range(1).select(
                F.lit(bad_bucket).cast("long").alias("bucket"),
                F.lit(5).cast("long").alias("tn"),
            )
        )
        with pytest.raises(
            (SparkRuntimeException, Exception), match="outside"
        ):
            dp_histogram_release(bad_h, 8, "test-grid-v1|").collect()


def test_pca_fold_decimal_adds_resolve_exact(spark):
    """The PCA mat-vec/norm folds must accumulate with adds
    whose STATIC result type keeps the product scale — a precision-38
    accumulator forces allowPrecisionLoss to shave the scale and
    HALF_UP-round every partial sum (1e-14 / 1e-17), silently breaking
    parity with an exact SUM on halfway values.  Pin the promotion-rule
    shapes the similarity.py folds rely on."""
    from pyspark.sql import functions as F

    df = spark.range(1)
    prod = F.lit(1).cast("decimal(18,6)") * F.lit(1).cast("decimal(18,9)")
    sq = F.lit(1).cast("decimal(18,9)")
    out = df.select(
        (F.lit(0).cast("decimal(37,15)") + prod).alias("matvec_add"),
        (F.lit(0).cast("decimal(37,18)") + sq * sq).alias("norm_add"),
        # a precision-38 accumulator, for contrast: scale-adjusted
        (F.lit(0).cast("decimal(38,15)") + prod).alias("lossy_add"),
    )
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["matvec_add"] == "decimal(38,15)"
    assert types["norm_add"] == "decimal(38,18)"
    assert types["lossy_add"] == "decimal(38,14)"
