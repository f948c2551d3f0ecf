"""Invariant tests for the ML-evaluation / data-selection tier.

Cross-engine value parity is covered by tests/test_oracle_parity.py (every
registry entry hash-compares against DuckDB); these tests pin the
*mathematical* properties the oracles can't express — monotonicity of the
isotonic fit, layout-invariance of driver-held greedy selection, mass
conservation of the frozen power iteration, reciprocity of mutual-NN pairs,
and the step-up structure of the BH rejection set.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from map_reduce_engine_spark.queries import REGISTRY
from map_reduce_engine_spark.queries.base import collect_bounded
from map_reduce_engine_spark.session import TABLES


def _rows(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir).collect()


def test_isotonic_fit_is_monotone_and_bracketed(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "isotonic_calibration"), key=lambda r: r.q)
    iso = [r.iso_rate_ppm for r in rows]
    assert iso == sorted(iso), "isotonic fit must be non-decreasing in q"
    # the fit stays inside the observed rate envelope
    raw = [r.raw_rate_ppm for r in rows]
    assert min(raw) <= min(iso) and max(iso) <= max(raw)


def test_average_precision_at_least_prevalence(spark, sf_dir):
    r = _rows(spark, sf_dir, "average_precision_eval")[0]
    # AP of any ranker >= prevalence-shaped floor sanity; and ppm-bounded
    assert 0 <= r.ap_ppm <= 1_000_000
    assert 0 < r.prevalence_ppm < 1_000_000


def test_kappa_bounds_and_agreement_consistency(spark, sf_dir):
    r = _rows(spark, sf_dir, "cohens_kappa_agreement")[0]
    assert -1_000_000 <= r.kappa_ppm <= 1_000_000
    # kappa <= observed agreement (since expected >= 0)
    assert r.kappa_ppm <= r.observed_agree_ppm


def test_mutual_nn_pairs_are_disjoint_and_ordered(spark, sf_dir):
    rows = _rows(spark, sf_dir, "mutual_nn_pairs")
    seen: set[int] = set()
    for r in rows:
        assert r.id1 < r.id2
        # mutual-NN pairs form a partial matching: no vector in two pairs
        assert r.id1 not in seen and r.id2 not in seen
        seen.update((r.id1, r.id2))


def test_hard_negative_margin_consistency(spark, sf_dir):
    for r in _rows(spark, sf_dir, "hard_negative_mining"):
        assert r.neg_label != r.label
        assert abs((r.pos_cos - r.neg_cos) - r.margin) < 1e-9


def test_bh_rejections_are_a_prefix_of_p_rank(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "benjamini_hochberg_brands"), key=lambda r: r.p_rank
    )
    flags = [r.rejected for r in rows]
    # step-up: once a rank is not rejected, no later rank is
    assert flags == sorted(flags, reverse=True)


def test_kcenter_selection_is_layout_invariant(spark, sf_dir):
    """Driver-held greedy argmax must not depend on partitioning."""
    import map_reduce_engine_spark.queries.mleval as ml
    from map_reduce_engine_spark.io import read_table

    base = _rows(spark, sf_dir, "kcenter_coreset")
    orig = read_table

    def shuffled(s, d, name):
        df = orig(s, d, name)
        return df.repartition(7) if name == "embeddings" else df

    import map_reduce_engine_spark.queries.base as qb

    old = qb.read_table
    qb.read_table = shuffled
    try:
        again = ml.kcenter_coreset(spark, sf_dir).collect()
    finally:
        qb.read_table = old
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))


def test_kcenter_gaps_are_nonincreasing(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "kcenter_coreset"), key=lambda r: r.sel_round)
    gaps = [r.sel_dist2 for r in rows if r.sel_dist2 is not None]
    assert gaps == sorted(gaps, reverse=True), "greedy maxmin gaps must shrink"


def test_markov_stationary_conserves_mass(spark, sf_dir):
    rows = _rows(spark, sf_dir, "markov_stationary")
    total = sum(r.stationary_ppb for r in rows)
    # each of 12 rounds rounds 5 states to nearest ppb: drift <= 5/2 per round
    assert abs(total - 1_000_000_000) <= 12 * 3
    assert all(r.stationary_ppb >= 0 for r in rows)


def test_fairness_gaps_reconcile_with_pooled_rate(spark, sf_dir):
    rows = _rows(spark, sf_dir, "fairness_parity_audit")
    for r in rows:
        assert r.sel_gap_ppm == r.sel_ppm - (r.sel_ppm - r.sel_gap_ppm)
    # pooled selection rate implied by gaps is the same constant everywhere
    pooled = {r.sel_ppm - r.sel_gap_ppm for r in rows}
    assert len(pooled) == 1


def test_ablation_impacts_sum_structure(spark, sf_dir):
    rows = _rows(spark, sf_dir, "ablation_group_impact")
    # dropping a below-average source raises the mean and vice versa
    for r in rows:
        if r.mean_chars_ppm < r.overall_mean_ppm:
            assert r.impact_ppm >= 0
        elif r.mean_chars_ppm > r.overall_mean_ppm:
            assert r.impact_ppm <= 0


def test_logistic_regression_is_calibrated_at_intercept(spark, sf_dir):
    """At near-zero feature effects the intercept must recover the base
    rate, and accuracy can never undercut the majority class."""
    import math

    r = _rows(spark, sf_dir, "logistic_regression_newton")[0]
    assert r.log_loss_nano < 0
    # majority-class floor
    assert r.accuracy_bp >= 5000
    # Newton score equation for the intercept: sum(mu_i) == sum(y_i), so the
    # MEAN PREDICTED probability must recover the prevalence at convergence
    from map_reduce_engine_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    b0, b1, b2 = r.b0_nano / 1e9, r.b1_nano / 1e9, r.b2_nano / 1e9
    stats = li.selectExpr(
        "avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS p",
        f"avg(1.0 / (1.0 + exp(-({b0} + {b1} * (CAST(l_quantity AS BIGINT) / 50.0)"
        f" + {b2} * (CAST(round(l_discount * 100) AS BIGINT) / 10.0))))) AS mu",
    ).collect()[0]
    assert math.isfinite(stats.mu)
    assert abs(stats.mu - float(stats.p)) < 0.002


def test_conformal_coverage_near_target(spark, sf_dir):
    r = _rows(spark, sf_dir, "conformal_interval_calibration")[0]
    assert r.qhat_cents >= 0
    # distribution-free guarantee: coverage >= 90% - finite-sample noise
    assert r.coverage_bp >= 8500, r
    assert r.coverage_bp <= 10000


def test_cumulative_gains_monotone_and_complete(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "cumulative_gains_deciles"), key=lambda r: r.decile)
    assert len(rows) == 10
    cums = [r.cum_capture_micro for r in rows]
    assert cums == sorted(cums)
    # the full ranking captures every positive (up to per-block div rounding)
    assert abs(rows[-1].cum_gain_ppm - 1_000_000) <= 100
    # deciles partition the population into near-equal slices
    sizes = [r.n_rows for r in rows]
    assert max(sizes) - min(sizes) <= 1


def test_als_rank1_beats_zero_model(spark, sf_dir):
    """The rank-1 reconstruction must beat predicting 0 for every rating
    (SSE(0-model) = sum r^2), and factors must stay positive on the
    nonnegative purchase-count matrix."""
    rows = _rows(spark, sf_dir, "als_rank1_factorization")
    assert len(rows) == 15
    assert all(r.v_micro > 0 for r in rows)
    from map_reduce_engine_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    zero_sse = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.count("*").alias("r"))
        .selectExpr("sum(r * r) AS s")
        .collect()[0]
        .s
    )
    assert rows[0].sse_nano / 1e9 < float(zero_sse)


def test_hdr_quantile_bound_holds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "hdr_histogram_quantiles")
    assert {r.p_bp for r in rows} == {5000, 9500, 9900}
    for r in rows:
        assert r.within_bound, r
        assert r.rel_err_bp <= 100


def test_markov_attribution_shares_normalize(spark, sf_dir):
    rows = _rows(spark, sf_dir, "markov_attribution_removal")
    assert len(rows) == 4
    for r in rows:
        # removal can only destroy conversion paths
        assert 0 <= r.removal_conv_ppb <= r.base_conv_ppb
        assert 0 <= r.removal_effect_ppm <= 1_000_000
    total = sum(r.attribution_share_ppm for r in rows)
    assert abs(total - 1_000_000) <= 4  # integer-div remainder only


def test_dbscan_clusters_are_disjoint_and_boxed(spark, sf_dir):
    rows = _rows(spark, sf_dir, "dbscan_grid_clusters")
    total_cells = sum(r.n_cells for r in rows)
    # bounding boxes are consistent and clusters are non-empty
    for r in rows:
        assert r.n_cells >= 1 and r.n_points >= 1
        assert r.min_cx <= r.max_cx and r.min_cy <= r.max_cy
        # box area bounds the cell count
        assert r.n_cells <= (r.max_cx - r.min_cx + 1) * (r.max_cy - r.min_cy + 1)
    # cluster ids are distinct min-cell labels
    assert len({r.cluster for r in rows}) == len(rows)
    assert total_cells == sum(r.n_cells for r in rows)


def test_propensity_strata_weights_reconcile(spark, sf_dir):
    rows = _rows(spark, sf_dir, "propensity_strata_ate")
    n = sum(r.n_s for r in rows)
    ssum = sum(r.n_s * r.diff_ppm for r in rows)
    # Spark div truncates toward zero; Python // floors — match div
    implied = (abs(ssum) // n) * (1 if ssum >= 0 else -1)
    assert implied == rows[0].ate_ppm
    for r in rows:
        assert r.n_treated + r.n_control == r.n_s


def test_logrank_consistency(spark, sf_dir):
    r = _rows(spark, sf_dir, "logrank_test")[0]
    assert r.v_nano >= 0  # 0 only when no churn events exist at this SF
    # E1 is a probability-weighted share of total deaths: within [0, total]
    assert 0 <= r.e1_nano
    assert r.significant == (abs(r.z) > 1.96)


def test_ridge_path_shrinks_slopes(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "ridge_lambda_path"), key=lambda r: r["lambda"])
    assert len(rows) == 4
    assert sum(1 for r in rows if r.is_best) >= 1
    # heavier penalty can only shrink the slope magnitude vector
    mags = [abs(r.b1_micro) + abs(r.b2_micro) for r in rows]
    assert mags[-1] <= mags[0]


def test_gbm_boosting_reduces_sse_each_round(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "gbm_two_round_stumps"), key=lambda r: r.round)
    assert len(rows) == 2
    for r in rows:
        assert r.sse_after_unit <= r.sse_before_unit
    # chained: round 2 starts where round 1 ended
    assert rows[1].sse_before_unit == rows[0].sse_after_unit


def test_max_coverage_gains_diminish(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "greedy_max_coverage_docs"), key=lambda r: r.sel_round)
    gains = [r.new_tokens for r in rows]
    # submodularity: marginal gains are non-increasing
    assert gains == sorted(gains, reverse=True)
    assert rows[-1].covered_tokens <= rows[-1].vocab_total
    assert len({r.doc_id for r in rows}) == len(rows)


def test_ipw_and_stratified_agree_directionally(spark, sf_dir):
    r = _rows(spark, sf_dir, "ipw_ate_estimators")[0]
    # piecewise-constant propensity => the two adjusted estimators are close
    assert abs(r.ate_ipw_ppm - r.ate_strat_ppm) <= 2000, r


def test_james_stein_shrinks_toward_grand_mean(spark, sf_dir):
    rows = _rows(spark, sf_dir, "james_stein_brand_rates")
    for r in rows:
        lo, hi = sorted((r.raw_ppm, r.grand_mean_ppm))
        assert lo - 1 <= r.shrunk_ppm <= hi + 1, r
        assert 0 <= r.shrink_factor_ppm <= 1_000_000


def test_phonetic_pairs_share_key_and_pass_verify(spark, sf_dir):
    for r in _rows(spark, sf_dir, "phonetic_blocking_pairs"):
        assert r.id1 < r.id2
        assert r.tok1 != r.tok2
        assert r.lev <= 3
        assert len(r.pkey) == 4


def test_l_diversity_entropy_bounds(spark, sf_dir):
    import math

    for r in _rows(spark, sf_dir, "l_diversity_audit"):
        assert 1 <= r.distinct_l
        # entropy-l is between 1 and distinct-l (uniform maximizes it)
        assert 1.0 - 1e-6 <= r.entropy_l <= r.distinct_l + 1e-6
        assert r.h_nano <= math.ceil(math.log(r.distinct_l) * 1e9) + len(
            str(r.distinct_l)
        )


def test_rd_jump_reconciles_with_intercepts(spark, sf_dir):
    r = _rows(spark, sf_dir, "regression_discontinuity")[0]
    assert r.jump_ppm == r.intercept_right_ppm - r.intercept_left_ppm
    assert r.n_left > 0 and r.n_right > 0


def test_shapley_r2_credits_sum_to_full(spark, sf_dir):
    r = _rows(spark, sf_dir, "shapley_r2_decomposition")[0]
    # efficiency axiom: credits sum to the full-model R^2 (+-1 ppm rounding)
    assert abs((r.shapley_quantity_ppm + r.shapley_discount_ppm) - r.r2_full_ppm) <= 1
    assert 0 <= r.r2_quantity_ppm <= r.r2_full_ppm + 1
    assert 0 <= r.r2_full_ppm <= 1_000_000


def test_elasticity_near_zero_on_price_independent_demand(spark, sf_dir):
    r = _rows(spark, sf_dir, "price_elasticity_loglog")[0]
    # price-independent extendedprice => the ratio artifact puts the
    # slope near -var(lnq)/(var(lnq)+var(lnp)), strictly in (-1, 0)
    assert -1_000_000 < r.elasticity_ppm < 0
    assert 0 <= r.r2_ppm <= 1_000_000


def test_oaxaca_decomposition_reconciles(spark, sf_dir):
    r = _rows(spark, sf_dir, "oaxaca_blinder_gap")[0]
    assert r.n_a > 0 and r.n_b > 0
    assert r.gap_millicents == r.explained_millicents + r.unexplained_millicents


def test_ppr_seeds_dominate_and_mass_bounded(spark, sf_dir):
    rows = _rows(spark, sf_dir, "personalized_pagerank_nation")
    assert rows, "seeded walk must reach at least the seeds"
    # every rank is positive after the reachability filter, and no node
    # can exceed the maximum possible inflow bound
    for r in rows:
        assert r.rank > 0
    # seed nodes (customers of nation 0) retain the restart mass floor
    from map_reduce_engine_spark.io import read_table
    from pyspark.sql import functions as SF

    seeds = {
        "c%d" % r.c_custkey
        for r in read_table(spark, sf_dir, "customer")
        .where(SF.col("c_nationkey") == 0)
        .select("c_custkey")
        .collect()
    }
    by_node = {r.node: r.rank for r in rows}
    seeded_ranks = [by_node[s] for s in seeds if s in by_node]
    assert seeded_ranks and min(seeded_ranks) >= 0.15 - 1e-6


def test_holt_forecast_is_linear_in_horizon(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "holt_linear_forecast"), key=lambda r: r.h)
    assert len(rows) == 7
    diffs = {
        rows[i].forecast_millicents - rows[i - 1].forecast_millicents
        for i in range(1, 7)
    }
    # linear extrapolation: constant step == frozen trend
    assert diffs == {rows[0].trend_millicents}
    assert rows[0].forecast_millicents == rows[0].level_millicents + rows[0].trend_millicents


def test_mediation_identity_holds(spark, sf_dir):
    r = _rows(spark, sf_dir, "mediation_sobel")[0]
    # OLS identity: total = direct + indirect (up to ppm freezing)
    assert abs(r.ident_gap_ppm) <= 2, r
    import math

    assert math.isfinite(r.sobel_z)


def test_streaming_sketch_matches_exact_median_within_bound(spark, sf_dir):
    from pyspark.sql import Window as W

    from map_reduce_engine_spark.io import read_table

    rows = _rows(spark, sf_dir, "streaming_quantile_sketch")
    assert rows
    ev = read_table(spark, sf_dir, "events")
    vals = ev.where(
        (F.col("event_type") == "purchase") & (F.round(F.col("value") * 100) >= 1)
    ).select(
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("w"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    ww = W.partitionBy("w").orderBy("c")
    exact = {
        r.w: r.c
        for r in vals.withColumn("rn", F.row_number().over(ww))
        .withColumn("nw", F.count("*").over(W.partitionBy("w")))
        .where(F.expr("rn = (5000 * (nw - 1)) div 10000 + 1"))
        .collect()
    }
    for r in rows:
        ex = exact[r.window_start]
        assert abs(r.p50_est_cents - ex) <= max(1, ex // 100), (r, ex)


def test_changepoint_partitions_and_gain_bounded(spark, sf_dir):
    r = _rows(spark, sf_dir, "changepoint_binary_segmentation")[0]
    assert r.n_before >= 1 and r.n_after >= 1
    # explained-by-split variance cannot exceed total variance
    assert 0 <= r.gain_unit <= r.tss_unit + 1


def test_qte_quantiles_are_ordered(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "quantile_treatment_effects"), key=lambda r: r.p_bp)
    assert [r.p_bp for r in rows] == [2500, 5000, 7500]
    for col in ("q_treated_cents", "q_control_cents"):
        vals = [r[col] for r in rows]
        assert vals == sorted(vals)
    for r in rows:
        assert r.qte_cents == r.q_treated_cents - r.q_control_cents


def test_ipf_raking_converges_and_preserves_flag_margins(spark, sf_dir):
    rows = _rows(spark, sf_dir, "ipf_raking_weights")
    assert rows[0].max_margin_err_bp <= 5, "brand margins must rake to uniform"
    # the LAST scaling step was the flag step: flag margins match exactly
    from collections import defaultdict

    got = defaultdict(float)
    want = defaultdict(int)
    for r in rows:
        got[r.flag] += r.n * r.weight_ppm / 1e6
        want[r.flag] += r.n
    for f in want:
        assert abs(got[f] - want[f]) / want[f] < 1e-4
    # weights cost variance: ESS below N but positive
    n_total = sum(r.n for r in rows)
    assert 0 < rows[0].ess_milli / 1e3 <= n_total + 1


def test_offline_policy_estimators_are_consistent(spark, sf_dir):
    r = _rows(spark, sf_dir, "offline_policy_ips")[0]
    for c in ("behavior_value_ppm", "dm_value_ppm", "ips_value_ppm", "snips_value_ppm"):
        assert 0 <= r[c] <= 1_000_000
    # SNIPS is IPS with the realized weight mass normalized out — when the
    # weights nearly telescope (sum n_s0*n_s/n_s0 == sum n_s == N), they agree
    assert abs(r.snips_value_ppm - r.ips_value_ppm) <= 2


def test_cuped_reduces_variance_fraction_in_unit_range(spark, sf_dir):
    r = _rows(spark, sf_dir, "cuped_variance_reduction")[0]
    assert 0 <= r.var_reduction_ppm <= 1_000_000
    assert r.n_users > 0


def test_f1_search_best_is_unique_argmax(spark, sf_dir):
    rows = _rows(spark, sf_dir, "f1_threshold_search")
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    assert best[0].f1_ppm == max(r.f1_ppm for r in rows)
    for r in rows:
        # F1 is the harmonic mean: between precision and recall
        lo, hi = sorted((r.precision_ppm, r.recall_ppm))
        assert lo - 1 <= r.f1_ppm <= hi + 1


def test_median_ci_brackets_median(spark, sf_dir):
    r = _rows(spark, sf_dir, "median_confidence_interval")[0]
    assert r.ci_lo_cents <= r.median_cents <= r.ci_hi_cents
    assert r.ci_lo_cents < r.ci_hi_cents


def test_runs_test_counts_reconcile(spark, sf_dir):
    r = _rows(spark, sf_dir, "runs_test_randomness")[0]
    assert 1 <= r.n_runs <= r.n_above + r.n_below
    assert r.nonrandom == (abs(r.z) > 1.96)


def test_ljung_box_autocorrelations_bounded(spark, sf_dir):
    r = _rows(spark, sf_dir, "ljung_box_test")[0]
    for k in range(1, 8):
        assert -1_100_000_000 <= r[f"r{k}_nano"] <= 1_100_000_000
    assert r.q_stat >= 0
    assert r.autocorrelated == (r.q_stat > 14.067)


def test_seasonal_decomposition_reconstructs(spark, sf_dir):
    rows = _rows(spark, sf_dir, "seasonal_decompose_daily")
    assert rows
    for r in rows:
        assert r.cents == r.trend_cents + r.seasonal_cents + r.remainder_cents
        assert 0 <= r.weekday_idx <= 6
    # seasonal terms roughly center around zero across observed weekdays
    seas = {r.weekday_idx: r.seasonal_cents for r in rows}
    n = len(seas)
    assert abs(sum(seas.values())) <= max(abs(v) for v in seas.values()) * n


def test_huber_downweights_but_keeps_scale_positive(spark, sf_dir):
    r = _rows(spark, sf_dir, "huber_robust_trend")[0]
    assert r.n_days > 0
    assert r.mad_millicents >= 0
    assert 0 <= r.n_downweighted <= r.n_days


def test_overdispersion_rows_per_event_type(spark, sf_dir):
    rows = _rows(spark, sf_dir, "overdispersion_index")
    assert len(rows) == 5
    for r in rows:
        assert r.dispersion_ppm >= 0
        assert r.overdispersed == (r.dispersion_ppm > 1_500_000)


def test_column_entropy_bounds(spark, sf_dir):
    import math

    rows = _rows(spark, sf_dir, "column_entropy_profile")
    assert {r.column_name for r in rows} == {
        "c_mktsegment",
        "c_nationkey",
        "balance_sign",
    }
    for r in rows:
        # H <= ln(distinct), with per-cell rounding slack
        assert r.h_nano <= math.log(r.n_distinct) * 1e9 + r.n_distinct
        assert 0 < r.distinct_ratio_ppm <= 1_000_000


def test_sinkhorn_mass_and_cost_sane(spark, sf_dir):
    r = _rows(spark, sf_dir, "sinkhorn_distribution_distance")[0]
    # scaling converges to a coupling carrying ~all marginal mass
    assert abs(r.transported_mass_nano - 1_000_000_000) < 20_000_000
    # cost per unit mass is bounded by the grid diameter (49 quantity units)
    assert 0 <= r.transport_cost_nano <= 49 * r.transported_mass_nano


def test_k_truss_edges_meet_support_floor(spark, sf_dir):
    rows = _rows(spark, sf_dir, "k_truss_parts")
    for r in rows:
        assert r.u < r.v
        assert r.n_triangles >= 2, "every truss edge must close >= k-2 triangles"


def test_k_truss_invariants_on_synthetic_graph(spark):
    """K5 survives a 4-truss intact; a pendant triangle chain does not."""
    from map_reduce_engine_spark.operators.graph import k_truss

    k5 = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
    chain = [(10, 11), (11, 12), (10, 12), (12, 13)]  # triangle + pendant edge
    edges = spark.createDataFrame(k5 + chain, "u bigint, v bigint")
    out = {(r.u, r.v): r.n_triangles for r in k_truss(edges, k=4, max_iter=5).collect()}
    assert set(out) == set(k5), "only the K5 clique is 4-truss-cohesive"
    assert all(n == 3 for n in out.values()), "each K5 edge closes exactly 3 triangles"


def test_bradley_terry_strengths_normalize_and_rank(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "bradley_terry_preferences"), key=lambda r: r.rank)
    total = sum(r.strength_ppm for r in rows)
    assert abs(total - 1_000_000) <= len(rows)  # integer-div remainder only
    strengths = [r.strength_ppm for r in rows]
    assert strengths == sorted(strengths, reverse=True)
    for r in rows:
        assert 0 <= r.wins <= r.games


def test_rmst_bounded_by_horizon(spark, sf_dir):
    r = _rows(spark, sf_dir, "restricted_mean_survival")[0]
    assert 0 <= r.rmst_millidays <= r.horizon_days * 1000
    assert r.n_users > 0


def test_distribution_fits_are_positive_and_comparable(spark, sf_dir):
    r = _rows(spark, sf_dir, "distribution_fit_mom")[0]
    assert r.gamma_shape_micro > 0 and r.gamma_scale_dollars > 0
    assert r.lognormal_sigma2_micro > 0
    # implied lognormal median lands within an order of magnitude of empirical
    assert r.empirical_median_cents / 10 <= r.lognormal_median_cents <= r.empirical_median_cents * 10


def test_kendall_tau_consistent_with_spearman_sign(spark, sf_dir):
    r = _rows(spark, sf_dir, "kendall_tau_b")[0]
    assert -1_000_000 <= r.tau_b_ppm <= 1_000_000
    # pair accounting: C + D <= total pairs minus ties
    n0 = r.n_rows * (r.n_rows - 1) // 2
    assert r.concordant + r.discordant <= n0
    # non-concordant-non-discordant pairs are tied in x or y
    # (inclusion-exclusion: their count is at most t1 + t2)
    assert n0 - r.concordant - r.discordant <= r.ties_x + r.ties_y


def test_t_closeness_is_a_tv_distance(spark, sf_dir):
    rows = _rows(spark, sf_dir, "t_closeness_audit")
    assert len(rows) == 25
    for r in rows:
        assert 0 <= r.t_ppm <= 1_000_000
        assert r.meets_t02 == (r.t_ppm <= 200_000)


def test_chao1_bounds(spark, sf_dir):
    r = _rows(spark, sf_dir, "species_richness_chao1")[0]
    assert r.chao1_richness >= r.v_observed
    assert r.n_singletons + 2 * r.n_doubletons <= r.n_tokens
    assert r.unseen_mass_ppm + r.coverage_ppm == 1_000_000


def test_dft_periodogram_parseval_and_ranking(spark, sf_dir):
    rows = _rows(spark, sf_dir, "dft_periodogram_weekly")
    assert {r.p for r in rows} == {7, 14, 30, 91}
    # power is the exact square sum of the kilo-unit C/S terms.
    # Engine `div` TRUNCATES negatives; Python // floors — mirror with trunc.
    def tdiv(a, b):
        return a // b if a >= 0 else -((-a) // b)

    for r in rows:
        assert r.power_k == tdiv(r.c_unit, 1000) ** 2 + tdiv(r.s_unit, 1000) ** 2
    ranked = sorted(rows, key=lambda r: (-r.power_k, r.p))
    assert [r.rank for r in ranked] == [1, 2, 3, 4]


def test_cooks_distance_flags_match_threshold(spark, sf_dir):
    rows = _rows(spark, sf_dir, "cooks_distance_outlier_days")
    assert len(rows) == 10 and all(r.cooks_micro >= 0 for r in rows)
    # the emitted flag IS the exact integer comparison, row by row
    n_days = (
        REGISTRY["cooks_distance_outlier_days"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.to_date("o_orderdate").alias("d"))
        .distinct()
        .count()
    )
    for r in rows:
        assert r.influential == (r.cooks_micro * n_days > 4_000_000)
    # top-10 is sorted by influence
    ds = [r.cooks_micro for r in rows]
    assert ds == sorted(ds, reverse=True)


def test_adamic_adar_predicts_only_new_edges(spark, sf_dir):
    from map_reduce_engine_spark.queries.base import t as read_t

    rows = _rows(spark, sf_dir, "adamic_adar_link_prediction")
    assert rows and all(r.x < r.y and r.n_common >= 1 for r in rows)
    # every predicted pair shares >=1 neighbor but is NOT an existing edge
    items = (
        read_t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = {
        (r.u, r.v)
        for r in a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count("*").alias("s"))
        .where(F.col("s") >= 2)
        .collect()
    }
    assert all((r.x, r.y) not in edges for r in rows)
    # more common neighbors of min degree 2 bounds the score from below:
    # each wedge contributes at least 1e9/ln(max_degree) > 0
    assert all(r.aa_nano >= r.n_common for r in rows)


def test_neyman_allocation_exhausts_budget(spark, sf_dir):
    rows = _rows(spark, sf_dir, "neyman_allocation_sources")
    assert sum(r.alloc_n for r in rows) == 10_000
    assert sum(r.share_ppm for r in rows) <= 1_000_000  # floor rounding
    # allocation follows the weight ordering within +/-1 (largest remainder)
    by_share = sorted(rows, key=lambda r: (-r.share_ppm, r.source))
    allocs = [r.alloc_n for r in by_share]
    assert all(a + 1 >= b for a, b in zip(allocs, allocs[1:]))


def test_vif_symmetric_and_above_one(spark, sf_dir):
    r = _rows(spark, sf_dir, "vif_collinearity_screen")[0]
    # VIF >= 1 by definition (equality iff orthogonal features)
    assert min(r.vif_qty_micro, r.vif_lines_micro, r.vif_disc_micro) >= 1_000_000
    # quantity and line count are collinear by construction: their VIFs
    # dominate the discount's
    assert r.vif_qty_micro > r.vif_disc_micro
    assert r.vif_lines_micro > r.vif_disc_micro
    assert abs(r.r_qty_lines_milli) <= 1000


def test_durbin_watson_in_valid_range(spark, sf_dir):
    r = _rows(spark, sf_dir, "durbin_watson_trend_residuals")[0]
    # DW lives in [0, 4]; flag is the exact integer comparison
    assert 0 <= r.dw_micro <= 4_000_000
    assert r.positive_autocorr == (r.dw_micro < 1_500_000)
    assert r.sse_units > 0


def test_event_pair_support_is_asymmetric_and_bounded(spark, sf_dir):
    rows = _rows(spark, sf_dir, "event_pair_sequence_support")
    n_users = (
        REGISTRY["event_pair_sequence_support"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert all(0 < r.support_users <= n_users for r in rows)
    assert all(r.antecedent != r.consequent for r in rows)
    # support(a->b) + support(b->a) >= support of users having both types:
    # at least one direction is ordered for any user with both (strict ts
    # ties can void both, so just check presence of both directions' keys)
    keys = {(r.antecedent, r.consequent) for r in rows}
    assert len(keys) == len(rows)


def test_gumbel_return_levels_increase_with_horizon(spark, sf_dir):
    r = _rows(spark, sf_dir, "gumbel_return_levels")[0]
    assert r.beta_milli > 0
    # longer horizon => strictly larger return level, all above the mode
    assert r.mu_milli < r.rl30_milli < r.rl100_milli < r.rl365_milli


def test_mcnemar_cells_partition_corpus(spark, sf_dir):
    r = _rows(spark, sf_dir, "mcnemar_filter_disagreement")[0]
    n_docs = (
        REGISTRY["mcnemar_filter_disagreement"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
        .count()
    )
    assert r.both_pass + r.len_only + r.lex_only + r.neither == n_docs
    assert r.filters_differ == (r.mcnemar_milli > 3841)


def test_theil_decomposition_identity(spark, sf_dir):
    """Within + between must reconstruct the pooled Theil index up to
    the per-term nano-freeze drift."""
    import math

    rows = _rows(spark, sf_dir, "theil_index_decomposition")
    # pooled Theil recomputed exactly from raw data
    from map_reduce_engine_spark.io import read_table

    cust = (
        read_table(spark, sf_dir, "customer")
        .join(read_table(spark, sf_dir, "orders"), F.expr("o_custkey = c_custkey"))
        .groupBy("c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("x"))
        .collect()
    )
    xs = [r.x for r in cust]
    n, s = len(xs), sum(xs)
    pooled = sum((x * n / s) * math.log(x * n / s) for x in xs) / n
    # reconstruct from the decomposition rows
    recon = sum(
        (r.revenue_share_ppm / 1e6) * (r.theil_within_nano / 1e9)
        + r.theil_between_nano / 1e9
        for r in rows
    )
    assert abs(recon - pooled) < 5e-4, (recon, pooled)
    # between-contributions sum to a nonnegative quantity (Jensen)
    assert sum(r.theil_between_nano for r in rows) >= -len(rows)


def test_nelson_aalen_dominates_km_ln_survival(spark, sf_dir):
    """-ln(S_KM(t)) >= H_NA(t) pointwise (classic inequality: -ln(1-x) >= x),
    and the cumulative hazard is nondecreasing."""
    import math

    na = sorted(_rows(spark, sf_dir, "nelson_aalen_hazard"), key=lambda r: r.dur_days)
    cum = [r.cumhaz_nano for r in na]
    assert cum == sorted(cum) and all(c >= 0 for c in cum)
    km = {
        r.dur_days: r.survival
        for r in _rows(spark, sf_dir, "kaplan_meier_retention")
    }
    for r in na:
        if r.dur_days in km and km[r.dur_days] > 0:
            assert -math.log(km[r.dur_days]) >= r.cumhaz_nano / 1e9 - 1e-3


def test_streaming_kmv_matches_batch_sketch(spark, sf_dir):
    """The drained stream state must equal the batch k-smallest-distinct
    sketch (min-k is order-independent), including the exact branch."""
    rows = _rows(spark, sf_dir, "streaming_kmv_distinct_users")
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.operators.dedup import portable_base31

    hashed = (
        read_table(spark, sf_dir, "events")
        .select("event_type", portable_base31(F.col("user_id").cast("string")).alias("h"))
        .distinct()
        .collect()
    )
    by_type: dict = {}
    for r in hashed:
        by_type.setdefault(r.event_type, set()).add(r.h)
    assert {r.event_type for r in rows} == set(by_type)
    for r in rows:
        kmin = sorted(by_type[r.event_type])[:64]
        assert r.n_in_state == len(kmin)
        if len(kmin) == 64:
            assert r.hk == kmin[-1]
            assert r.est_milli == (2 * 63 * 2147483648 * 1000 + r.hk) // (2 * r.hk)
        else:
            assert r.hk is None and r.est_milli == len(kmin) * 1000


def test_kruskal_wallis_rank_sums_close(spark, sf_dir):
    """Sum of all rank-sums must equal n(n+1)/2 exactly (tie-averaged
    ranks are a rank partition), and mean ranks straddle the grand mean."""
    rows = _rows(spark, sf_dir, "kruskal_wallis_test")
    assert len(rows) == 5
    n = sum(r.n_g for r in rows)
    # recover S2_g = mean_rank_milli truncation-free via the engine identity:
    # mean_rank_milli = (500 * s2) div n_g, so only check the straddle + H
    grand_milli = (n + 1) * 500  # (n+1)/2 in milli
    assert min(r.mean_rank_milli for r in rows) < grand_milli
    assert max(r.mean_rank_milli for r in rows) > grand_milli
    assert len({r.h_milli for r in rows}) == 1
    assert all(r.significant == (r.h_milli > 9488) for r in rows)


def test_horvitz_thompson_exact_weights(spark, sf_dir):
    rows = _rows(spark, sf_dir, "horvitz_thompson_total")
    assert all(r.permille in (125, 200, 250, 500) for r in rows)
    for r in rows:
        assert 0 <= r.n_sampled <= r.n_docs
        # the HT estimate is an exact integer multiple of the weight
        assert r.ht_total_chars % (1000 // r.permille) == 0
        assert r.abs_err_bp == abs(r.ht_total_chars - r.true_total_chars) * 10000 // r.true_total_chars


def test_capture_recapture_bounds(spark, sf_dir):
    r = _rows(spark, sf_dir, "capture_recapture_users")[0]
    assert r.m_overlap <= min(r.n1, r.n2)
    # Chapman estimate is at least the observed union size - 1
    assert r.chapman_estimate >= r.n1 + r.n2 - r.m_overlap - 1
    assert r.true_users > 0


def test_brown_forsythe_f_nonnegative_and_shared(spark, sf_dir):
    rows = _rows(spark, sf_dir, "brown_forsythe_variance_test")
    assert len(rows) == 5
    assert len({r.f_milli for r in rows}) == 1
    assert rows[0].f_milli >= 0
    assert all(r.mean_absdev_cents >= 0 for r in rows)
    assert all(r.variances_differ == (r.f_milli > 2372) for r in rows)


def test_cochran_armitage_shared_statistic(spark, sf_dir):
    rows = _rows(spark, sf_dir, "cochran_armitage_trend")
    assert len(rows) == 5 and {r.bucket for r in rows} == set(range(5))
    assert len({r.z2_milli for r in rows}) == 1
    for r in rows:
        assert r.rate_ppm == 1_000_000 * r.r_i // r.n_i
        assert r.trend_significant == (r.z2_milli > 3841)


def test_shapley_efficiency_identity(spark, sf_dir):
    """Game-theory identity: sum of Shapley numerators (x24) equals
    24 * (v(grand coalition) - v(empty coalition)) EXACTLY."""
    rows = _rows(spark, sf_dir, "shapley_channel_attribution")
    assert {r.channel for r in rows} == {"click", "error", "signup", "view"}
    from map_reduce_engine_spark.io import read_table

    u = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
                " + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
                " + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)"
                " + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("mask"),
            F.expr("max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").alias("conv"),
        )
        .groupBy("mask")
        .agg(F.expr("(1000000 * sum(conv)) div count(*)").alias("v_ppm"))
        .collect()
    )
    v = {r.mask: r.v_ppm for r in u}
    expected = 24 * (v.get(15, 0) - v.get(0, 0))
    assert sum(r.numer_ppm24 for r in rows) == expected


def test_cochrans_q_reduces_to_paired_structure(spark, sf_dir):
    r = _rows(spark, sf_dir, "cochrans_q_filters")[0]
    assert r.q_milli >= 0
    assert r.filters_differ == (r.q_milli > 5991)
    # column sums bounded by corpus size
    assert max(r.pass_len, r.pass_lex, r.pass_tokens) <= r.n_docs


def test_cronbach_alpha_bounded_above_by_one(spark, sf_dir):
    r = _rows(spark, sf_dir, "cronbach_alpha_quality")[0]
    assert r.alpha_milli <= 1000
    assert r.internally_consistent == (r.alpha_milli >= 700)
    # the two token-count items overlap (>=55 implies >=40)
    assert r.c4 <= r.c3


def test_misra_gries_guarantee_under_repartition(spark, sf_dir):
    """The MG containment guarantee must hold for ANY layout: repartition
    the keyed stream adversarially and re-check every true heavy hitter
    still survives the bounded-memory pass."""
    from map_reduce_engine_spark.io import read_table
    from map_reduce_engine_spark.operators.sketch import misra_gries_summary

    rows = _rows(spark, sf_dir, "misra_gries_heavy_hitters")
    assert rows and all(r.in_mg_candidates for r in rows)
    keyed = (
        read_table(spark, sf_dir, "events")
        .select(
            F.expr(
                "CASE WHEN user_id % 4 < 2"
                " THEN 'hot_' || CAST(user_id % 2 AS STRING)"
                " ELSE 'cold_' || CAST(user_id AS STRING) END"
            ).alias("item")
        )
        .repartition(23)
    )
    cands = {r.item for r in misra_gries_summary(keyed, "item", k=16).collect()}
    for r in rows:
        assert r.item in cands
    # and MG counts never exceed true counts
    exact = {r.item: r.true_count for r in rows}
    for r in misra_gries_summary(keyed, "item", k=16).collect():
        if r.item in exact:
            assert r.mg_count <= exact[r.item]


def test_tukey_pairs_complete_and_symmetric_threshold(spark, sf_dir):
    rows = _rows(spark, sf_dir, "tukey_hsd_pairs")
    assert len(rows) == 10  # C(5,2)
    assert all(r.type_a < r.type_b for r in rows)
    for r in rows:
        assert r.q_milli >= 0
        assert r.pair_differs == (r.q_milli > 3858)


def test_friedman_rank_sums_partition(spark, sf_dir):
    """Within every block ranks sum to k(k+1)/2, so total 2R over all
    types must be n * k * (k+1) exactly."""
    rows = _rows(spark, sf_dir, "friedman_test")
    assert len(rows) == 5
    n_days = (
        REGISTRY["friedman_test"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .count()
    )
    assert sum(r.r2_sum for r in rows) == n_days * 5 * 6
    assert len({r.q_milli for r in rows}) == 1


def test_mmr_trades_relevance_for_diversity(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "mmr_diversified_topk"), key=lambda r: r.sel_round)
    assert len(rows) == 5
    assert len({r.vec_id for r in rows}) == 5
    # round 1 is the pure-relevance argmax; its score is 7*rel by convention
    assert rows[0].maxsim_dot == 0 and rows[0].mmr_score == 7 * rows[0].rel_dot
    for r in rows[1:]:
        assert r.mmr_score == 7 * r.rel_dot - 3 * r.maxsim_dot
    # later picks never beat the first pick's pure relevance
    assert all(r.rel_dot <= rows[0].rel_dot for r in rows)


def test_power_design_monotone_in_mde(spark, sf_dir):
    """Smaller detectable effects need more samples — strictly."""
    rows = sorted(_rows(spark, sf_dir, "power_sample_size_design"), key=lambda r: r.mde_pct)
    ns = [r.n_per_arm for r in rows]  # mde 10, 20, 50, 100
    assert ns == sorted(ns, reverse=True)
    assert all(r.target_ppm > r.baseline_ppm for r in rows)
    for r in rows:
        assert r.feasible_with_current_users == (2 * r.n_per_arm <= r.n_users)


def test_poisson_rate_ratio_reconciles(spark, sf_dir):
    r = _rows(spark, sf_dir, "poisson_rate_ratio_test")[0]
    assert r.rate_a_ppm == 1_000_000 * r.x_a // r.t_a
    assert r.rate_b_ppm == 1_000_000 * r.x_b // r.t_b
    assert r.rates_differ == (abs(r.z_milli) > 1959)
    # ratio direction agrees with the z sign
    assert (r.rate_ratio_milli >= 1000) == (r.z_milli >= 0)


def test_effect_size_measures_agree_in_sign(spark, sf_dir):
    r = _rows(spark, sf_dir, "effect_size_report")[0]
    # parametric and nonparametric effect directions must agree
    if r.cohens_d_milli != 0 and r.cliffs_delta_milli != 0:
        assert (r.cohens_d_milli > 0) == (r.cliffs_delta_milli > 0)
    # Hedges g shrinks toward zero and delta is bounded
    assert abs(r.hedges_g_milli) <= abs(r.cohens_d_milli)
    assert -1000 <= r.cliffs_delta_milli <= 1000
    assert r.magnitude in ("negligible", "small", "medium", "large")


def test_streaming_mg_guarantee(spark, sf_dir):
    rows = _rows(spark, sf_dir, "streaming_mg_heavy_hitters")
    assert rows and all(r.in_stream_candidates for r in rows)
    # the streaming and batch sketches agree on the heavy-hitter set
    batch = {r.item for r in _rows(spark, sf_dir, "misra_gries_heavy_hitters")}
    assert {r.item for r in rows} == batch


def test_bigram_surprisal_bounds(spark, sf_dir):
    """Add-one smoothing bounds every per-bigram surprisal by
    ln(cn + V) (unseen) and the mean must stay positive."""
    import math

    rows = _rows(spark, sf_dir, "bigram_surprisal_scores")
    assert len(rows) == 20
    assert all(r.avg_surprisal_nano > 0 for r in rows)
    from map_reduce_engine_spark.io import read_table

    tok = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
    )
    v = tok.distinct().count()
    n = tok.count()
    # worst possible surprisal: never-seen continuation after the rarest
    # prefix: ln(cn + V) <= ln(n + V)
    cap = math.log(n + v) * 1e9
    assert all(r.avg_surprisal_nano <= cap for r in rows)
    ranks = [r.rank for r in sorted(rows, key=lambda r: (-r.avg_surprisal_nano, r.doc_id))]
    assert ranks == list(range(1, 21))


def test_wasserstein_dominates_nothing_but_positive(spark, sf_dir):
    """W1 >= |mean difference| (Jensen) and the scaled integer reconciles."""
    r = _rows(spark, sf_dir, "wasserstein_1d_distance")[0]
    assert r.w_scaled >= 0
    assert r.w1_cents == r.w_scaled // (r.n_purchase * r.n_click)
    eff = _rows(spark, sf_dir, "effect_size_report")[0]
    # W1 in cents >= |mean diff| in cents (milli -> cents: /1000)
    assert r.w1_centicents * 10 >= abs(eff.mean_diff_milli) - 1000


def test_jonckheere_flag_consistent_and_bounded(spark, sf_dir):
    r = _rows(spark, sf_dir, "jonckheere_terpstra_trend")[0]
    # the fixture generates extendedprice INDEPENDENT of quantity (the
    # documented elasticity artifact), so direction is near zero — assert
    # the exact flag identity and bounds, not a direction
    assert r.increasing_trend == (r.z_milli > 1644)
    assert abs(r.z_milli) < 10_000  # |z| < 10 on a null-ish relationship
    # J2 bounded by twice the total pair count across ordered group pairs
    assert 0 <= r.j2 <= r.n_rows * r.n_rows


def test_tail_dependence_bounds(spark, sf_dir):
    r = _rows(spark, sf_dir, "tail_dependence_daily")[0]
    assert 0 <= r.lambda_upper_milli <= 1000
    assert 0 <= r.lambda_lower_milli <= 1000
    assert r.n_joint_hi <= r.n_hi_orders
    assert r.upper_tails_dependent == (20 * r.n_joint_hi > r.n_hi_orders)


def test_hurst_in_unit_range_and_blocks_count(spark, sf_dir):
    rows = _rows(spark, sf_dir, "hurst_rs_exponent")
    assert {r.size for r in rows} == {16, 32, 64}
    assert len({r.h_milli for r in rows}) == 1
    h = rows[0].h_milli
    assert 0 < h < 1500  # H in (0, 1.5) sanity envelope
    # bigger blocks => larger rescaled range (R/S grows with n)
    by_size = sorted(rows, key=lambda r: r.size)
    rss = [r.mean_rs_micro for r in by_size]
    assert rss == sorted(rss)
    for r in by_size:
        assert r.regime == (
            "trending" if h > 600 else "mean_reverting" if h < 400 else "random_walk_like"
        )


def test_pacf_lag1_equals_acf_lag1(spark, sf_dir):
    """phi_11 IS r_1 by definition — cross-check against Ljung-Box's r1."""
    rows = {r.lag: r for r in _rows(spark, sf_dir, "pacf_durbin_levinson")}
    assert set(rows) == {1, 2, 3}
    lb = _rows(spark, sf_dir, "ljung_box_test")[0]
    assert rows[1].pacf_nano == lb.r1_nano
    for r in rows.values():
        assert abs(r.pacf_nano) <= 1_200_000_000  # |pacf| <= ~1


def test_granger_f_nonnegative_and_flags(spark, sf_dir):
    r = _rows(spark, sf_dir, "granger_causality_daily")[0]
    assert r.f_count_causes_revenue_milli >= 0
    assert r.f_revenue_causes_count_milli >= 0
    assert r.count_causes_revenue == (r.f_count_causes_revenue_milli > 3841)
    assert r.revenue_causes_count == (r.f_revenue_causes_count_milli > 3841)


def test_aipw_close_to_stratified(spark, sf_dir):
    """With near-null treatment effects the doubly-robust estimator and
    the stratified estimator must land in the same neighborhood."""
    a = _rows(spark, sf_dir, "aipw_doubly_robust_ate")[0]
    i = _rows(spark, sf_dir, "ipw_ate_estimators")[0]
    assert abs(a.ate_aipw_ppm - i.ate_strat_ppm) < 100_000  # within 10pp
    assert a.n_total == i.n_total


def test_meta_analysis_pooled_inside_envelope(spark, sf_dir):
    rows = _rows(spark, sf_dir, "meta_analysis_brand_effects")
    assert rows
    pooled = rows[0].pooled_ppm
    assert len({r.pooled_ppm for r in rows}) == 1
    # pooled effect lies inside the per-brand effect envelope
    assert min(r.d_ppm for r in rows) <= pooled <= max(r.d_ppm for r in rows)
    # I^2 bounded and consistent with Q vs df
    r0 = rows[0]
    assert 0 <= r0.i2_ppm < 1_000_000
    if r0.q_micro <= r0.df * 1_000_000:
        assert r0.i2_ppm == 0


def test_gopher_rules_matrix_complete(spark, sf_dir):
    rows = _rows(spark, sf_dir, "gopher_quality_rules")
    rules = {
        "too_few_tokens",
        "mean_word_len_out_of_range",
        "overlong_word",
        "low_alpha_share",
        "high_duplicate_tokens",
        "no_stopwords",
    }
    by_source: dict = {}
    for r in rows:
        assert r.rule in rules
        assert 0 <= r.n_fail <= r.n_docs
        assert r.fail_ppm == 1_000_000 * r.n_fail // r.n_docs
        by_source.setdefault(r.source, set()).add(r.rule)
    # every source carries the full rule matrix
    assert all(v == rules for v in by_source.values())


def test_funnel_violations_bounded_by_comparable(spark, sf_dir):
    rows = _rows(spark, sf_dir, "funnel_order_violations")
    assert len(rows) == 6
    for r in rows:
        assert 0 <= r.n_violations <= r.n_comparable
        if r.n_comparable:
            assert r.violation_ppm == 1_000_000 * r.n_violations // r.n_comparable


def test_rbo_bounded_and_tail_exact(spark, sf_dir):
    import math

    r = _rows(spark, sf_dir, "rbo_ranking_overlap")[0]
    assert 0 <= r.overlap_at_20 <= 20
    # truncated RBO mass is bounded by 1 - p^20
    assert 0 <= r.rbo_nano <= 1_000_000_000 - r.unseen_tail_nano + 20
    assert r.unseen_tail_nano == math.floor(0.9**20 * 1e9 + 0.5)


def test_newey_west_wider_than_ols_under_autocorr(spark, sf_dir):
    r = _rows(spark, sf_dir, "newey_west_trend_se")[0]
    assert r.se_ols_micro > 0 and r.se_nw_micro > 0
    dw = _rows(spark, sf_dir, "durbin_watson_trend_residuals")[0]
    if dw.positive_autocorr:
        # positive autocorrelation inflates the truth: NW must widen
        assert r.se_nw_micro > r.se_ols_micro


def test_tost_flags_reconcile(spark, sf_dir):
    r = _rows(spark, sf_dir, "tost_equivalence_test")[0]
    assert r.equivalent_within_5pp == (r.z_lower_milli > 1644 and r.z_upper_milli > 1644)
    assert r.se_ppm > 0
    # the hash split is a true null: the observed gap sits inside the margin
    assert abs(r.diff_ppm) < 50_000 or not r.equivalent_within_5pp


def test_bland_altman_limits_bracket_bias(spark, sf_dir):
    r = _rows(spark, sf_dir, "bland_altman_agreement")[0]
    assert r.loa_lower < r.bias_units < r.loa_upper
    assert 0 <= r.n_outside <= r.n_docs
    # roughly normal differences: < 20% land outside the 1.96-SD limits
    assert r.outside_bp < 2000


def test_smr_exposure_weighted_mean_is_one(spark, sf_dir):
    """Indirect standardization identity: total observed == total expected
    (the reference rates are fit on the pooled data), so the exposure-
    weighted SMR must center on 1 up to integer-freeze drift."""
    rows = _rows(spark, sf_dir, "indirect_standardization_smr")
    obs = sum(r.observed for r in rows)
    exp = sum(r.expected_returns for r in rows)
    assert abs(obs - exp) <= len(rows)  # per-nation floor rounding only
    for r in rows:
        assert r.elevated == (r.smr_milli > 1100)


def test_sprt_decision_consistent_with_walk(spark, sf_dir):
    import math

    r = _rows(spark, sf_dir, "sprt_early_stopping")[0]
    b_hi = math.floor(math.log(19.0) * 1e9 + 0.5)
    if r.decision == "continue":
        assert r.n_decide is None and abs(r.llr_at_stop) < b_hi
    else:
        assert 1 <= r.n_decide <= r.n_total
        if r.decision == "accept_h1_rate_is_high":
            assert r.llr_at_stop >= b_hi
        else:
            assert r.llr_at_stop <= -b_hi
    # the fixture's early-conversion rate is far above p1 -> H1 at any
    # adequate n; at tiny n the walk may not cross, so only check shape
    assert 0 <= r.rate_ppm <= 1_000_000


def test_gpd_tail_fit_sane(spark, sf_dir):
    r = _rows(spark, sf_dir, "gpd_peaks_over_threshold")[0]
    assert r.n_exceedances > 0
    assert r.mean_excess_milli > 0
    # xi < 1/2 required for finite variance to exist at all under MoM
    assert r.xi_micro < 500_000
    assert r.heavy_tailed == (r.xi_micro > 0)
    assert r.beta_milli > 0


def test_actuarial_survival_monotone_and_below_na(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "actuarial_life_table"), key=lambda r: r.interval_w)
    surv = [r.survival_ppm for r in rows]
    assert surv == sorted(surv, reverse=True)
    assert all(0 <= s <= 1_000_000 for s in surv)
    for r in rows:
        # half-censor adjustment: hazard uses the exact 2d/(2n-c) ratio
        assert r.hazard_ppm == 1_000_000 * 2 * r.n_churned // (
            2 * r.n_entering - r.n_censored
        )


def test_youden_vs_f1_argmax_semantics(spark, sf_dir):
    rows = _rows(spark, sf_dir, "youden_j_cutpoint")
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    b = best[0]
    assert b.j_ppm == max(r.j_ppm for r in rows)
    for r in rows:
        assert r.j_ppm == r.sensitivity_ppm + r.specificity_ppm - 1_000_000
        assert -1_000_000 <= r.j_ppm <= 1_000_000


def test_dunn_index_from_interval_geometry(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "dunn_index_segments"), key=lambda r: r.cluster_id)
    assert len(rows) == 3
    # 1-D kmeans clusters are disjoint intervals in cluster-id order
    for a, b in zip(rows, rows[1:]):
        assert a.max_cents < b.min_cents
        assert a.gap_to_next == b.min_cents - a.max_cents
    min_gap = min(r.gap_to_next for r in rows if r.gap_to_next is not None)
    max_diam = max(r.diameter_cents for r in rows)
    assert rows[0].dunn_milli == 1000 * min_gap // max_diam


def test_page_l_consistent_with_rank_sums(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "page_trend_test"), key=lambda r: r.bucket)
    assert len(rows) == 5
    assert rows[0].l2 == sum((r.bucket + 1) * r.r2_sum for r in rows)
    assert len({r.z_milli for r in rows}) == 1
    assert all(r.increasing_with_bucket == (r.z_milli > 1644) for r in rows)


def test_dsir_selection_enriches_target(spark, sf_dir):
    """DSIR invariants: contiguous ranks, non-increasing scores, and the
    selected sample is enriched in the target (lang='en') distribution
    relative to the raw corpus — the property the importance weights exist
    to deliver."""
    from pyspark.sql import functions as F

    rows = REGISTRY["dsir_importance_weights"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    assert [r["sel_rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score_nano"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.trim("text") != ""
    )
    overall_en = docs.where(F.col("lang") == "en").count() / docs.count()
    top_en = sum(r["lang"] == "en" for r in rows) / len(rows)
    assert top_en >= overall_en, (top_en, overall_en)


def test_pass_at_k_estimator_properties(spark, sf_dir):
    """pass@k invariants: one row per k, ppm in [0, 1e6], eligible-task
    counts non-increasing in k, and the fixture's task-mean non-decreasing
    in k (more draws can only help)."""
    rows = {r["k"]: r for r in REGISTRY["pass_at_k_eval"].fn(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 3, 5]
    for r in rows.values():
        assert 0 <= r["mean_pass_ppm"] <= 1_000_000
    assert rows[1]["n_tasks"] >= rows[3]["n_tasks"] >= rows[5]["n_tasks"]
    assert (
        rows[1]["mean_pass_ppm"]
        <= rows[3]["mean_pass_ppm"]
        <= rows[5]["mean_pass_ppm"]
    )


def test_ece_consistent_with_bins(spark, sf_dir):
    """ECE invariants: gap_ppm = |acc - conf| per bin, ECE is between the
    min and max bin gap (it is a weighted mean), MCE is the max gap, and
    n_total is the sum of bin sizes."""
    rows = REGISTRY["expected_calibration_error"].fn(spark, sf_dir).collect()
    gaps = [r["gap_ppm"] for r in rows]
    ece = rows[0]["ece_ppm"]
    assert all(r["gap_ppm"] == abs(r["acc_ppm"] - r["conf_ppm"]) for r in rows)
    assert min(gaps) <= ece <= max(gaps)
    assert rows[0]["mce_ppm"] == max(gaps)
    assert sum(r["n"] for r in rows) == rows[0]["n_total"]


def test_distinct_n_diversity_bounds(spark, sf_dir):
    """distinct-n invariants: uniq <= total, ratios in (0, 1e6], and
    distinct-2 >= distinct-1 on natural text (bigrams are rarer than their
    parts, so their distinct share is higher)."""
    rows = REGISTRY["distinct_n_diversity"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["uniq1"] <= r["total1"]
        assert 0 < r["uniq2"] <= r["total2"]
        assert 0 < r["distinct1_ppm"] <= 1_000_000
        assert 0 < r["distinct2_ppm"] <= 1_000_000
        assert r["distinct2_ppm"] >= r["distinct1_ppm"]


def test_hill_tail_index_consistency(spark, sf_dir):
    """Hill invariants: k = max(n div 20, 10), gamma-hat positive (top-k
    values exceed the reference order statistic), alpha ~ 1/gamma at the
    micro scale, and the threshold is a real data value below the max."""
    row = REGISTRY["hill_tail_index"].fn(spark, sf_dir).collect()[0]
    assert row.k == max(row.n // 20, 10)
    assert row.hill_micro > 0
    assert abs(row.alpha_micro - 10**12 // row.hill_micro) <= 1
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mx = orders.agg({"o_totalprice": "max"}).collect()[0][0]
    assert 0 < row.threshold_dollars <= round(mx)


def test_trimmed_mean_between_bounds(spark, sf_dir):
    """Trimmed-mean invariants: trim_k = n div 20, the trimmed mean lies
    within the kept value range (strictly inside the raw min/max when the
    tails are nonempty), and tail_pull = raw - trimmed exactly."""
    row = REGISTRY["trimmed_mean_orders"].fn(spark, sf_dir).collect()[0]
    assert row.trim_k == row.n // 20
    assert row.tail_pull_cents == row.raw_mean_cents - row.trimmed_mean_cents
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mn, mx = orders.agg(
        F.min(F.round(F.col("o_totalprice") * 100).cast("bigint")),
        F.max(F.round(F.col("o_totalprice") * 100).cast("bigint")),
    ).collect()[0]
    assert mn < row.trimmed_mean_cents < mx


# Fixed-round loops that collect their bounded grid once and run the rounds
# on the driver, and the Markov queries that share the bounded collect.
_DRIVER_LOOPS = [
    "sinkhorn_distribution_distance",
    "bradley_terry_preferences",
    "ipf_raking_weights",
    "huber_robust_trend",
]
_MARKOV = ["markov_stationary", "markov_attribution_removal"]


@pytest.mark.quick
def test_collect_bounded_refuses_a_grid_over_its_bound(spark):
    df = spark.range(5)
    assert sorted(r.id for r in collect_bounded(df, 5, "five_row_grid")) == list(range(5))
    with pytest.raises(ValueError, match="four_row_grid"):
        collect_bounded(df, 4, "four_row_grid")


@pytest.mark.quick
def test_driver_loops_match_oracle_on_empty_facts(spark, sf_dir, tmp_path):
    """Empty lineitem and events: Sinkhorn keeps its one row of zero bin
    counts and NULL sums, the other loops return no rows, and the Markov
    queries return their oracles' rows (NULL chain values, not a driver
    ZeroDivisionError)."""
    con = duckdb.connect()
    for t in TABLES:
        src, dst = f"{sf_dir}/{t}.parquet", f"{tmp_path}/{t}.parquet"
        if t in ("lineitem", "events"):
            con.execute(f"COPY (SELECT * FROM '{src}' LIMIT 0) TO '{dst}' (FORMAT PARQUET)")
        else:
            shutil.copy(src, dst)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}'")
    for name in _DRIVER_LOOPS + _MARKOV:
        sdf = REGISTRY[name].fn(spark, str(tmp_path))
        rel = con.sql(REGISTRY[name].oracle)
        idx = [rel.columns.index(c) for c in sdf.columns]
        want = sorted(repr(tuple(r[i] for i in idx)) for r in rel.fetchall())
        assert sorted(repr(tuple(r)) for r in sdf.collect()) == want, name
    con.close()


@pytest.mark.quick
@pytest.mark.parametrize("name", _DRIVER_LOOPS)
def test_driver_loop_runs_few_jobs(spark, sf_dir, name):
    """The rounds run on the driver: building and collecting the query is a
    handful of Spark jobs, not a localCheckpoint chain per round (23-116
    jobs before). The result is a local relation, whose collect runs no
    job. The bound is the most any of them measured at sf0.001 (7,
    bradley_terry_preferences) with its tables not yet read in the session,
    when each first read still infers its schema."""
    sc = spark.sparkContext
    group = f"driver-loop-{name}"
    sc.setJobGroup(group, name)
    try:
        REGISTRY[name].fn(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7
