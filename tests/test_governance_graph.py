"""Invariant tests for the governance + graph-mining batch (the
oracle mirror in test_queries_oracle.py already value-checks each
query against DuckDB; these pin the semantic laws the values must
obey)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_playground_spark.queries.graph_mining import (
    KCORE_K,
    KCORE_ROUNDS,
    kcore_sql,
)
from data_pipeline_playground_spark.registry import all_queries
from data_pipeline_playground_spark.tables import table

_Q = all_queries()


def test_fk_audit_counts_are_consistent(spark, sf_dir):
    rows = {r["fk_column"]: r for r in _Q["fk_integrity_audit"](spark, sf_dir).collect()}
    assert len(rows) == 7
    li_n = table(spark, sf_dir, "lineitem").count()
    assert rows["l_orderkey"]["n_child_rows"] == li_n
    assert rows["l_partkey"]["n_child_rows"] == li_n
    for r in rows.values():
        assert r["n_orphan_rows"] >= r["n_orphan_keys"]  # rows fan out keys
        assert r["n_null_fk"] + r["n_orphan_rows"] <= r["n_child_rows"]


def test_kanon_rows_cover_table_and_shares_sum_to_one(spark, sf_dir):
    out = _Q["k_anonymity_audit"](spark, sf_dir).collect()
    total = table(spark, sf_dir, "customer").count()
    assert sum(r["n_rows"] for r in out) == total
    assert abs(sum(r["row_share"] for r in out) - 1.0) < 1e-9
    for r in out:
        assert r["n_rows"] == r["group_k"] * r["n_groups"]
        assert r["reidentifiable"] == (r["group_k"] < 5)


def test_attribution_conserves_purchase_value(spark, sf_dir):
    """Linear attribution must conserve revenue up to the floor-division
    remainder: total credit <= total purchase micros, and the loss is
    strictly less than one micro-unit per credited touch."""
    out = _Q["attribution_linear"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    total_micros = ev.select(
        F.sum((F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint"))
    ).collect()[0][0]
    credited = sum(r["attributed_micros"] for r in out)
    touches = sum(r["n_touches"] for r in out if r["touch_hour"] >= 0)
    assert 0 <= total_micros - credited <= max(touches, 0)
    assert any(r["touch_hour"] == -1 for r in out)  # untouched bucket exists


def test_kcore_degrees_meet_k_and_peel_converged(spark, sf_dir):
    """Every surviving node's within-core degree is >= k, and one more
    peel round changes nothing at this scale (the fixed 6-round trace
    IS the converged 2-core here)."""
    out = _Q["kcore_parts"](spark, sf_dir).collect()
    assert out, "2-core should be non-empty at test scale"
    assert min(r["core_degree"] for r in out) >= KCORE_K
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_kcore_t")
    more = spark.sql(kcore_sql("_li_kcore_t", rounds=KCORE_ROUNDS + 1)).collect()
    assert sorted((r["part_node"], r["core_degree"]) for r in out) == sorted(
        (r["part_node"], r["core_degree"]) for r in more
    )


def test_link_prediction_excludes_existing_edges_and_scores_bounded(spark, sf_dir):
    out = _Q["link_prediction_ra"](spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 100
    li = table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    edges = {(r["pa"], r["pb"]) for r in pair.collect()}
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert (r["part_a"], r["part_b"]) not in edges
        # each common neighbor contributes (0, 1] in fixed-point units
        assert 0 < r["ra_scaled"] <= r["n_common"] * 1_000_000_000


def test_ushape_conserves_revenue_exactly(spark, sf_dir):
    """The U-shaped model's last-touch remainder absorption makes
    conservation EXACT — no floor-division loss at all."""
    out = _Q["attribution_ushape"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    total_micros = ev.select(
        F.sum((F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint"))
    ).collect()[0][0]
    assert sum(r["attributed_micros"] for r in out) == total_micros
    classes = {r["position_class"] for r in out}
    assert classes <= {"unattributed", "only", "first", "middle", "last"}
    byc = {r["position_class"]: r for r in out}
    if "first" in byc and "last" in byc:
        assert byc["first"]["n_touches"] == byc["last"]["n_touches"]


def test_effective_sources_bounds(spark, sf_dir):
    for r in _Q["source_effective_number"](spark, sf_dir).collect():
        assert 1.0 - 1e-9 <= r["inv_simpson_sources"] <= r["n_sources"] + 1e-9
        assert r["top_source_share"] >= 1.0 / r["n_sources"] - 1e-9


def test_cluster_separation_consistency(spark, sf_dir):
    out = _Q["cluster_separation_audit"](spark, sf_dir).collect()
    emb = table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in out) == emb
    for r in out:
        assert r["nearest_cid"] != r["cluster_id"]
        assert r["min_inter_d2"] > 0
        assert abs(
            r["separation_ratio"] - r["min_inter_d2"] / r["mean_intra_d2"]
        ) < 1e-12


def test_collocation_dice_bounds(spark, sf_dir):
    rows = _Q["collocation_dice"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert 0.0 < r["dice"] <= 1.0
        assert r["c12"] <= min(r["c1"], r["c2"])


def test_curriculum_partitions_corpus(spark, sf_dir):
    rows = sorted(
        _Q["curriculum_stages"](spark, sf_dir).collect(),
        key=lambda r: r["quality_decile"],
    )
    n_docs = table(spark, sf_dir, "documents").count()
    assert [r["quality_decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == n_docs
    # ntile law: bucket sizes differ by at most 1, larger buckets first
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)
    # quality is non-decreasing across stages
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_quality"] <= hi["min_quality"]


def test_session_conversion_covers_all_sessions(spark, sf_dir):
    out = _Q["session_conversion"](spark, sf_dir).collect()
    n_sessions = _Q["events_sessionize"](spark, sf_dir).count()
    assert sum(r["n_sessions"] for r in out) == n_sessions
    for r in out:
        assert 0 <= r["n_converted"] <= r["n_sessions"]
        assert abs(r["conversion_rate"] - r["n_converted"] / r["n_sessions"]) < 1e-12


def test_mutual_nn_symmetry_and_bounds(spark, sf_dir):
    rows = _Q["mutual_nn_pairs"](spark, sf_dir).collect()
    assert rows, "mutual pairs should exist"
    seen = set()
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
        key = (r["vec_a"], r["vec_b"])
        assert key not in seen  # each mutual pair reported once
        seen.add(key)


def test_cascade_audit_cascade_is_monotone(spark, sf_dir):
    rows = {r["table_name"]: r for r in _Q["cascade_delete_audit"](spark, sf_dir).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert 0 < r["n_rows_affected"] <= r["n_rows_total"]
    # every affected order belongs to an affected customer: the order
    # count can't be positive if no customers were selected
    assert rows["customer"]["n_rows_affected"] > 0


def test_skew_audit_shares_consistent(spark, sf_dir):
    for r in _Q["join_key_skew_audit"](spark, sf_dir).collect():
        assert r["n_keys"] <= r["n_rows"]
        assert r["max_key_share"] <= r["top8_share"] <= 1.0 + 1e-9
        assert r["max_over_avg"] >= 1.0 - 1e-9


def test_lang_confusion_covers_corpus(spark, sf_dir):
    rows = _Q["lang_id_confusion"](spark, sf_dir).collect()
    total = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    by_actual = {}
    for r in rows:
        by_actual.setdefault(r["actual_lang"], 0.0)
        by_actual[r["actual_lang"]] += r["recall_share"]
        assert r["correct"] == (r["actual_lang"] == r["lang_pred"])
    for share in by_actual.values():
        assert abs(share - 1.0) < 1e-9


def test_temporal_split_partitions_and_leakage(spark, sf_dir):
    rows = {r["split"]: r for r in _Q["temporal_split_audit"](spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    total = table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows.values()) == total
    tr = rows["train"]
    assert tr["n_users_seen_in_train"] == tr["n_users"]
    for split in ("val", "test"):
        assert rows[split]["n_users_seen_in_train"] <= rows[split]["n_users"]
    # chronological 80/10/10: train must dominate
    assert rows["train"]["n_events"] > rows["val"]["n_events"]
    assert rows["train"]["n_events"] > rows["test"]["n_events"]


def test_prf_returns_full_topk_with_positive_scores(spark, sf_dir):
    from data_pipeline_playground_spark.queries.retrieval import BM25_TOPK

    rows = _Q["bm25_prf_topk"](spark, sf_dir).collect()
    assert len(rows) == BM25_TOPK
    scores = [r["bm25_prf"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_join_ivm_quadrants_cover_join(spark, sf_dir):
    """The certified view must cover every lineitem with a parent order
    (inner join): total n_lines equals the direct join count."""
    rows = _Q["join_ivm_certificate"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey")
    direct = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert sum(r["n_lines"] for r in rows) == direct


def test_mix_chi2_nonnegative_and_covers_weeks(spark, sf_dir):
    rows = _Q["event_mix_chi2"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events")
    n_weeks = ev.select(F.date_trunc("week", "ts")).distinct().count()
    assert len(rows) == n_weeks
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["chi2_contrib"] >= 0


def test_late_trend_slope_sign_matches_rates(spark, sf_dir):
    rows = _Q["supplier_late_trend"](spark, sf_dir).collect()
    assert rows
    slopes = [r["late_rate_slope"] for r in rows]
    assert slopes == sorted(slopes, reverse=True)
    for r in rows:
        assert 0.0 <= r["late_rate"] <= 1.0
        assert r["n_months"] >= 3


def test_checksum_detects_any_row_change(spark, sf_dir):
    """Signature law: the checksum over a table minus one row differs
    (mod-P Horner chains collide only when the removed row's signature
    is ≡ 0, excluded here); and n_rows matches the table."""
    rows = {r["table_name"]: r for r in _Q["table_checksum"](spark, sf_dir).collect()}
    for tbl in ("orders", "lineitem", "customer"):
        assert rows[tbl]["n_rows"] == table(spark, sf_dir, tbl).count()
        assert 0 <= rows[tbl]["checksum"] < 2_147_483_647


def test_rec_backtest_counts_consistent(spark, sf_dir):
    r = _Q["item_rec_backtest"](spark, sf_dir).collect()[0]
    assert 0 <= r["n_hits"] <= r["n_eval_items"]
    assert r["n_test_orders"] > 0
    assert abs(r["hit_rate"] - r["n_hits"] / r["n_eval_items"]) < 1e-12


def test_gap_bands_cover_purchases(spark, sf_dir):
    rows = _Q["purchase_click_gap_bands"](spark, sf_dir).collect()
    n_purch = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_purchases"] for r in rows) == n_purch
    assert abs(sum(r["purchase_share"] for r in rows) - 1.0) < 1e-9


def test_bd_latency_bounds_calendar_days(spark, sf_dir):
    """The signed offset is internally consistent (min <= avg <= max)
    and |business days| never exceeds |calendar days| — checked via
    the 5/7 law: bd is within ceil(5/7·cal)+5 of the calendar span."""
    rows = _Q["orders_business_day_latency"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["min_bd"] <= r["avg_business_days"] <= r["max_bd"]


def test_staleness_covers_users(spark, sf_dir):
    """daily_user_curves (round-10 merge): the last-active counts
    partition the user set; staleness keys are non-negative; the
    cumulative curve ends at the full distinct-user count and the WAU
    curve never exceeds it."""
    rows = _Q["daily_user_curves"](spark, sf_dir).collect()
    n_users = (
        table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r["n_users_last_active"] for r in rows) == n_users
    assert sum(r["new_users"] for r in rows) == n_users
    assert all(r["staleness_days"] >= 0 for r in rows)
    last = max(rows, key=lambda r: r["day"])
    assert last["cumulative_users"] == n_users
    for r in rows:
        assert r["n_active_7d"] <= r["cumulative_users"]


def test_s_curve_monotone_theory_and_rates_bounded(spark, sf_dir):
    rows = sorted(
        _Q["lsh_s_curve_audit"](spark, sf_dir).collect(),
        key=lambda r: r["j_band"],
    )
    assert rows
    th = [r["theoretical_catch"] for r in rows]
    assert th == sorted(th)  # S-curve is monotone in similarity
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert 0.0 <= r["catch_rate"] <= 1.0
        assert 0.0 <= r["theoretical_catch"] <= 1.0


def test_wilson_interval_brackets_rate(spark, sf_dir):
    for r in _Q["segment_conversion_wilson"](spark, sf_dir).collect():
        assert 0.0 <= r["wilson_lo"] <= r["conversion_rate"] <= r["wilson_hi"] <= 1.0
        assert r["k"] <= r["n"]


def test_trimmed_mean_within_raw_range(spark, sf_dir):
    for r in _Q["trimmed_mean_order_value"](spark, sf_dir).collect():
        assert r["n_trimmed_each"] == r["n_orders"] * 5 // 100
        # trimming both tails keeps the mean finite and inside the hull
        assert r["trimmed_mean_price"] > 0
        assert r["raw_mean_price"] > 0


def test_new_repeat_first_orders_equal_customers(spark, sf_dir):
    rows = _Q["new_vs_repeat_revenue"](spark, sf_dir).collect()
    n_cust_with_orders = (
        table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r["n_new"] for r in rows) == n_cust_with_orders
    total_orders = table(spark, sf_dir, "orders").count()
    assert sum(r["n_new"] + r["n_repeat"] for r in rows) == total_orders


def test_concentration_share_bounds(spark, sf_dir):
    for r in _Q["revenue_concentration_drift"](spark, sf_dir).collect():
        assert 1 <= r["n_top"] <= r["n_customers"]
        # top-1% of customers always holds at least its pro-rata share
        assert r["top1pct_share"] >= r["n_top"] / r["n_customers"] - 1e-9
        assert r["top1pct_share"] <= 1.0 + 1e-9


def test_growth_accounting_identity(spark, sf_dir):
    """actives(w) = actives(w-1) + new + resurrected - churned(w) for
    consecutive weeks — the growth-accounting identity."""
    rows = sorted(
        _Q["weekly_growth_accounting"](spark, sf_dir).collect(),
        key=lambda r: r["week"],
    )
    actives = {
        r["week"]: r["n_new"] + r["n_retained"] + r["n_resurrected"] for r in rows
    }
    for prev, cur in zip(rows, rows[1:]):
        if (cur["week"] - prev["week"]).days != 7:
            continue
        assert (
            actives[cur["week"]]
            == actives[prev["week"]]
            + cur["n_new"]
            + cur["n_resurrected"]
            - cur["n_churned"]
        )
    assert rows[0]["n_retained"] == 0 and rows[0]["n_resurrected"] == 0


def test_kpi_dashboard_consistency(spark, sf_dir):
    rows = _Q["daily_kpi_dashboard"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["dau"] <= r["n_events"]
        assert 0.0 <= r["error_rate"] <= 1.0


def test_burstiness_positive_means(spark, sf_dir):
    rows = _Q["interarrival_burstiness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["mean_gap_s"] > 0
        assert r["cov_squared"] >= 0


def test_conversion_curve_monotone(spark, sf_dir):
    rows = sorted(
        _Q["signup_conversion_curve"](spark, sf_dir).collect(),
        key=lambda r: r["within_days"],
    )
    assert [r["within_days"] for r in rows] == list(range(15))
    conv = [r["n_converted"] for r in rows]
    assert conv == sorted(conv)  # cumulative curve is monotone
    assert all(0.0 <= r["conversion_share"] <= 1.0 for r in rows)
    assert len({r["n_signups"] for r in rows}) == 1


def test_mix_temperature_quota_sums_to_budget(spark, sf_dir):
    from data_pipeline_playground_spark.queries.sampling import MIX_TEMP_SEATS

    rows = _Q["training_mix_temperature"](spark, sf_dir).collect()
    assert sum(r["sample_quota"] for r in rows) == MIX_TEMP_SEATS
    # temperature flattens: quota share ordering follows doc counts,
    # but the ratio max/min in quota is <= the ratio in raw counts
    big = max(rows, key=lambda r: r["n_docs"])
    small = min(rows, key=lambda r: r["n_docs"])
    if small["n_docs"] > 0 and small["sample_quota"] > 0:
        assert (
            big["sample_quota"] / small["sample_quota"]
            <= big["n_docs"] / small["n_docs"] + 1e-9
        )


def test_padding_sorted_never_worse(spark, sf_dir):
    rows = {r["policy"]: r for r in _Q["padding_waste_audit"](spark, sf_dir).collect()}
    assert set(rows) == {"length_sorted", "arrival_order"}
    assert rows["length_sorted"]["waste_share"] <= rows["arrival_order"]["waste_share"] + 1e-12
    for r in rows.values():
        assert r["total_tokens"] <= r["padded_tokens"]
        assert 0.0 <= r["waste_share"] < 1.0
    assert rows["length_sorted"]["total_tokens"] == rows["arrival_order"]["total_tokens"]


def test_vocab_growth_monotone_and_totals(spark, sf_dir):
    rows = sorted(
        _Q["vocab_growth_curve"](spark, sf_dir).collect(), key=lambda r: r["step"]
    )
    assert [r["step"] for r in rows] == list(range(1, 11))
    toks = [r["cum_tokens"] for r in rows]
    vocab = [r["cum_vocab"] for r in rows]
    assert toks == sorted(toks) and vocab == sorted(vocab)
    assert all(v <= t for v, t in zip(vocab, toks))


def test_simpson_counts_partition_groups(spark, sf_dir):
    r = _Q["simpson_paradox_audit"](spark, sf_dir).collect()[0]
    assert r["n_same_sign"] + r["n_opposite_sign"] <= r["n_groups"]
    assert r["global_sign"] in (-1, 0, 1)
    if r["global_sign"] != 0:
        assert (r["global_slope"] > 0) == (r["global_sign"] > 0)


def test_ltv_curves_monotone(spark, sf_dir):
    rows = _Q["cohort_ltv_triangle"](spark, sf_dir).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], []).append((r["offset_q"], r["cum_ltv_per_user"]))
    for pts in by_cohort.values():
        pts.sort()
        vals = [v for _, v in pts]
        assert vals == sorted(vals)  # cumulative LTV never decreases
        assert all(v > 0 for v in vals)
    assert any(pts[0][0] == 0 for pts in by_cohort.values())


def test_yoy_math_consistent(spark, sf_dir):
    rows = {r["month"]: r for r in _Q["monthly_revenue_yoy"](spark, sf_dir).collect()}
    for m, r in rows.items():
        if r["revenue_last_year"] is not None:
            expect = (r["revenue"] - r["revenue_last_year"]) / r["revenue_last_year"]
            assert abs(r["yoy_growth"] - expect) < 1e-12


def test_contract_audit_all_pass_on_clean_corpus(spark, sf_dir):
    rows = _Q["data_contract_audit"](spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert r["passed"] == (r["n_violations"] == 0)
        assert 0 <= r["n_violations"] <= r["n_rows"]


def test_checksum_diff_localizes_simulated_loss(spark, sf_dir):
    from data_pipeline_playground_spark.queries.governance import DIFF_SIM_MOD

    r = _Q["checksum_diff_buckets"](spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders")
    expected_missing = orders.filter(F.col("o_orderkey") % DIFF_SIM_MOD == 0).count()
    assert r["n_rows_to_repair"] == expected_missing
    assert 0 < r["n_buckets_differing"] <= min(r["n_buckets"], expected_missing)


def test_uvi_base_quarter_is_one(spark, sf_dir):
    rows = {r["quarter"]: r for r in _Q["unit_value_index"](spark, sf_dir).collect()}
    base = min(rows)
    assert abs(rows[base]["unit_value_index"] - 1.0) < 1e-12
    for r in rows.values():
        assert r["unit_value_index"] > 0
        assert r["n_common_parts"] > 0


def test_eta2_in_unit_interval(spark, sf_dir):
    r = _Q["revenue_weekday_eta2"](spark, sf_dir).collect()[0]
    assert -1e-9 <= r["eta_squared"] <= 1.0 + 1e-9
    assert r["n_weekdays"] <= 7


def test_corr_matrix_bounds(spark, sf_dir):
    rows = _Q["region_metric_correlations"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        for c in ("corr_price_qty", "corr_price_discount", "corr_qty_discount"):
            assert -1.0 - 1e-9 <= r[c] <= 1.0 + 1e-9


def test_error_bursts_account_for_all_errors(spark, sf_dir):
    rows = _Q["error_burst_runs"](spark, sf_dir).collect()
    n_errors = (
        table(spark, sf_dir, "events").filter(F.col("event_type") == "error").count()
    )
    assert sum(r["run_len"] * r["n_runs"] for r in rows) == n_errors
    for r in rows:
        assert r["n_users"] <= r["n_runs"]


def test_personal_outliers_bounded(spark, sf_dir):
    r = _Q["personal_spend_outliers"](spark, sf_dir).collect()[0]
    assert r["n_high_outliers"] + r["n_low_outliers"] <= r["n_orders_checked"]
    assert r["n_customers_checked"] > 0


def test_topk_stability_bounds(spark, sf_dir):
    """churn@k invariants survive the round-11 merge into
    part_weekly_movers: every row of a week with a preceding ranked
    week carries the set-overlap stats; first-week rows carry NULLs."""
    from data_pipeline_playground_spark.queries.analytics import TOPK_STAB_K

    rows = _Q["part_weekly_movers"](spark, sf_dir).collect()
    assert rows
    weeks = {r["week"] for r in rows}
    stats = sorted(r for r in rows if r["n_common"] is not None)
    assert stats, "some week must have a preceding ranked week"
    for r in rows:
        assert 1 <= r["rnk"] <= TOPK_STAB_K
        if r["n_common"] is None:
            assert r["topk_jaccard"] is None
            continue
        assert 0 <= r["n_common"] <= TOPK_STAB_K
        expect = r["n_common"] / (2 * TOPK_STAB_K - r["n_common"])
        assert abs(r["topk_jaccard"] - expect) < 1e-12
    # per-week consistency: every row of one week carries one value
    per_week = {}
    for r in rows:
        per_week.setdefault(r["week"], set()).add(r["n_common"])
    assert all(len(v) == 1 for v in per_week.values())
    assert weeks  # keep the set referenced


def test_emerging_terms_sorted_and_positive(spark, sf_dir):
    rows = _Q["emerging_terms"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    ratios = [r["growth_ratio"] for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    assert all(r["c2"] >= 5 for r in rows)


def test_dup_histogram_covers_corpus(spark, sf_dir):
    rows = _Q["dup_cluster_histogram"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


def test_order_aging_covers_orders(spark, sf_dir):
    """The aging report absorbed into orders_grouping_sets (round 11):
    the (status, age_band) grouping set still partitions every order."""
    rows = _Q["orders_grouping_sets"](spark, sf_dir).collect()
    aging = [
        r for r in rows
        if r["age_band"] is not None and r["o_orderstatus"] is not None
    ]
    assert aging
    assert sum(r["n_orders"] for r in aging) == table(
        spark, sf_dir, "orders"
    ).count()
    assert {r["age_band"] for r in aging} <= {"0-1y", "1-3y", "3-5y", "5y+"}


def test_discount_lift_covers_lineitem(spark, sf_dir):
    """The promo readout absorbed into sales_cube (round 11): the
    band-only cube slice still partitions every lineitem and carries
    positive avg quantity + gross revenue per band."""
    rows = _Q["sales_cube"](spark, sf_dir).collect()
    bands = [
        r for r in rows
        if r["discount_band"] is not None
        and r["l_returnflag"] is None and r["l_linestatus"] is None
    ]
    assert {r["discount_band"] for r in bands} == {"none", "shallow", "deep"}
    assert sum(r["n_lines"] for r in bands) == table(
        spark, sf_dir, "lineitem"
    ).count()
    for r in bands:
        assert r["avg_quantity"] > 0 and r["total_price"] > 0


def test_lsh_bucket_matches_oracle_at_high_plane_counts(spark, sf_dir):
    """The derived plane counts at the test SFs are 4 and 5, so the
    registry oracles never reach the higher planes. Per vec_id, the
    Spark signature must equal the DuckDB one at 12 planes (the
    200 000-vector derived count) and at MAX_PLANES, whose bucket ids
    pass bit 31 — the reason both engines carry them as BIGINT."""
    from data_pipeline_playground_spark.queries import similarity as s
    from tests.oracle import duckdb_conn

    con = duckdb_conn(sf_dir)
    e = s._embed_double(spark, sf_dir)
    for p in (12, s.MAX_PLANES):
        got = dict(
            e.select("vec_id", s._bucket_col(p).cast("long").alias("b"))
            .collect()
        )
        want = dict(con.execute(
            f"SELECT vec_id, CAST({s._sql_bucket(str(p))} AS BIGINT) "
            f"FROM (SELECT vec_id, {s._SQL_V} AS v FROM embeddings)"
        ).fetchall())
        assert got == want, p
        assert max(want.values()) < 1 << p
    assert max(want.values()) >= 1 << 31


def test_lsh_plane_dial_self_setting(spark):
    """VERDICT r12 #3: the plane count derives from the corpus row
    count at plan-build time — unit-checked at two corpus sizes, and
    the pure-integer Python derivation must equal the oracle's in-SQL
    CEIL(LOG2()) form at boundary counts (the two sides must agree for
    EVERY n or a corpus size could exist where query and oracle bucket
    differently)."""
    import duckdb

    import data_pipeline_playground_spark.queries.similarity as s

    # two corpus sizes: 500 vectors clamp to MIN_PLANES, 2000 derive 5
    assert s.lsh_planes(spark, "/root/testdata/sf0.001") == 4
    assert s.lsh_planes(spark, "/root/testdata/sf0.1") == 5
    # the rule reproduces r12's hand-validated 100×-probe config
    assert s.planes_for_count(200_000) == 12
    # round 15 (VERDICT r14 #3): the clamp is now a safety rail at 34
    # planes, so the dial stays self-setting two decades past the 100 TB
    # story's 10^10 vectors; the derivation must keep matching the
    # oracle in the range the old 16-plane cap used to mask
    assert s.MAX_PLANES >= 28, "cap must clear ~28 planes at 10^10 vectors"
    assert s.planes_for_count(5_000_000) == 17  # past the old 16 clamp
    assert s.planes_for_count(10**10) == 28
    assert len(s.HYPERPLANES) == s.MAX_PLANES
    con = duckdb.connect()
    for n in [1, 63, 64, 65, 128, 129, 500, 2000, 200_000,
              64 * 4096 - 1, 64 * 4096, 64 * 4096 + 1, 10**9,
              # boundaries in the range the old clamp masked
              64 * 2**16, 64 * 2**16 + 1, 5_000_000, 10**10,
              64 * 2**33, 64 * 2**33 + 1, 10**12]:
        sqlp = con.execute(
            f"SELECT GREATEST({s.MIN_PLANES}, LEAST({s.MAX_PLANES}, "
            f"CAST(CEIL(LOG2(CAST({n} AS DOUBLE) / "
            f"{s.LSH_TARGET_BUCKET}.0)) AS INT)))"
        ).fetchone()[0]
        assert sqlp == s.planes_for_count(n), n
