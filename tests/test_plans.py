"""Physical-plan assertions: the optimizations SCALE.md promises must
actually appear in the executed plans — predicate pushdown into the
parquet scan, column pruning, broadcast dimension joins, and
single-shuffle window/aggregate compositions. These are regression
guards: a refactor that silently adds a shuffle or drops a pushdown
fails here, not in a 100 TB run."""

from __future__ import annotations

import re

import pytest

from data_pipeline_playground_spark.registry import all_queries

_QUERIES = all_queries()

# the memos the exact audit tiers read: the truth side's shingle and
# exact-Jaccard memos and the LSH side's signatures
_AUDIT_MEMOS = {"minhash_est", "shingle_hash_ex", "shingle_ranked",
                "shingle_sets", "jaccard_pairs_wide"}


def _plan(spark, sf_dir, name: str) -> str:
    return (
        _QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _memo_build_plans(spark, monkeypatch, memo_names, run) -> list[str]:
    """Executed plans of every frame pinned while ``run()`` rebuilds the
    named memos. A memo pins with localCheckpoint, so its consumers'
    plans show only the checkpoint scan; the build plan is visible only
    at pin time."""
    from data_pipeline_playground_spark import caching

    skey = caching._session_key(spark)
    evicted = [k for k in caching._STORE
               if k[0] == skey and k[1] in memo_names]
    for key in evicted:
        del caching._STORE[key]
    plans: list[str] = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    pin = frame_cls.localCheckpoint

    def recording_pin(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return pin(self, *args, **kwargs)

    with monkeypatch.context() as patch:
        patch.setattr(frame_cls, "localCheckpoint", recording_pin)
        run()
    # every named memo was rebuilt under the recording, so no build
    # plan escaped the caller's assertions
    rebuilt = {k[1] for k in caching._STORE if k[0] == skey}
    assert set(memo_names) <= rebuilt, set(memo_names) - rebuilt
    assert plans
    return plans


def _plan_and_builds(spark, sf_dir, monkeypatch, name, memo_names):
    """(consumer plan, joined build plans) of query ``name``, rebuilding
    the named memos it reads (see ``_memo_build_plans``)."""
    consumer: list[str] = []
    builds = _memo_build_plans(
        spark, monkeypatch, memo_names,
        lambda: consumer.append(_plan(spark, sf_dir, name)),
    )
    return consumer[0], "\n".join(builds)


def test_pricing_summary_pushes_date_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no PushedFilters section in scan"
    assert "l_shipdate" in m.group(1)  # the date predicate reached parquet


def test_top_revenue_parts_prunes_and_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_revenue_parts")
    assert "BroadcastHashJoin" in plan  # part is a broadcast dim
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    # lineitem scan reads only the 3 columns the query needs
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["l_discount", "l_extendedprice", "l_partkey"]


@pytest.mark.parametrize(
    "name",
    ["events_sessionize", "user_value_deltas", "asof_last_click"],
)
def test_single_shuffle_window_queries(spark, sf_dir, name):
    """Gaps-and-islands, lag-deltas, and the as-of join all promise ONE
    hash shuffle (window + downstream agg share the user_id
    partitioning)."""
    plan = _plan(spark, sf_dir, name)
    assert plan.count("Exchange hashpartitioning") == 1


def test_nation_pair_trade_single_agg_shuffle(spark, sf_dir):
    """Q7-shape: every join resolves broadcast-side at test scale; the
    only hash exchange is the final nations² aggregation."""
    plan = _plan(spark, sf_dir, "nation_pair_trade")
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_users_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "funnel_users")
    assert "Join" not in plan  # conditional-min formulation: pure agg
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize(
    "name",
    ["pii_scrub", "token_count_bpe", "dataset_split", "sample_stratified", "training_mix"],
)
def test_narrow_map_queries_zero_shuffle(spark, sf_dir, name):
    """Scrubbing, token counting, and hash-based splits/sampling are
    pure per-row maps — any Exchange in these plans is a regression."""
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # stays JVM-side


def test_quality_repetition_partial_agg(spark, sf_dir):
    """The bigram-mode (riding token_stats since the round-11
    consolidation) is a MAP-SIDE run-length fold over the doc's own
    sorted bigram array since round 12 (VERDICT r11 #4): the whole
    panel must be a shuffle-free JVM projection over the scan — any
    Exchange (the old per-(doc, bigram) groupBy + join back) or
    Python stage is a regression."""
    plan = _plan(spark, sf_dir, "token_stats")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_quartiles_approx_no_global_sort(spark, sf_dir):
    """The approx-quartile bucketize exists precisely to avoid the
    ntile path's single-partition total sort: its plan must contain no
    global-order exchange and the cut-point join must be broadcast."""
    plan = _plan(spark, sf_dir, "customer_spend_quartiles_approx")
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_fuzzy_minhash_no_quadratic_join(spark, sf_dir, monkeypatch):
    """The LSH-candidate fuzzy dedup must never fall back to the banded
    self-join's nested-loop comparison: candidates come from equi-joins
    on band keys, so the plan has hash joins only (the Levenshtein
    verify is a filter over the candidate join, not a join condition
    over the corpus). The band join runs in the fuzzy_title_pairs
    memo build, so its build plans are checked too."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "dedup_fuzzy_minhash",
                                   {"fuzzy_title_pairs"})
    for p in (plan, build):
        assert "CartesianProduct" not in p
        # the only BNLJs allowed are broadcast-tiny (none expected here)
        assert "BroadcastNestedLoopJoin" not in p


def test_bpe_encode_jvm_fold_broadcast_merges(spark, sf_dir):
    """bpe_encode (tokenizer APPLY): the merge table collapses to a
    ONE-ROW broadcast array (BNLJ fan-out over the vocab — the
    intended ≤K-row build side), top-K merges via TakeOrdered (never
    a global sort), and the K-rule rewrite fold runs as a JVM
    higher-order aggregate — no Python stage anywhere."""
    plan = _plan(spark, sf_dir, "bpe_encode")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_minhash_signatures_single_shuffle(spark, sf_dir):
    """Wide minhash signatures: one doc_id exchange with partial_min
    map-side combine; no param-table join, no per-component exchange."""
    from data_pipeline_playground_spark.operators.minhash import (
        shingle_hashes,
        signatures,
    )
    from data_pipeline_playground_spark.tables import table

    # this pin asserts the BUILD plan, so drop any cached blocks an
    # earlier test left (the memos' own signature frames are
    # localCheckpoints, which a fresh plan never reads)
    spark.catalog.clearCache()
    docs = table(spark, sf_dir, "documents")
    sig = signatures(spark, shingle_hashes(docs))
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    # one exchange for the explicit repartition + one for the agg
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_doc_chunks_zero_shuffle(spark, sf_dir):
    """Chunking is sequence+explode+slice over the scan — a pure
    narrow map; any Exchange is a regression."""
    plan = _plan(spark, sf_dir, "doc_chunks")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_sample_weighted_no_global_sort(spark, sf_dir):
    """A-ES top-K must compile to TakeOrderedAndProject (per-partition
    top-K + driver merge), never a full Sort of the corpus."""
    plan = _plan(spark, sf_dir, "sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    """The per-source running sum and the bin aggregation share the
    source partitioning: one hash exchange on source, one on the
    (source, bin) agg at most."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_heavy_hitters_cms_broadcasts_counters(spark, sf_dir):
    """The 4096-row CMS counter table must broadcast to the probe —
    a sort-merge join here would shuffle the candidates pointlessly."""
    plan = _plan(spark, sf_dir, "heavy_hitters_cms")
    assert "BroadcastHashJoin" in plan


def test_bloom_broadcasts_bits(spark, sf_dir):
    """Both the bit set and the exact blocklist are broadcast-sized;
    the probe side must never shuffle for those joins."""
    plan = _plan(spark, sf_dir, "bloom_blocklist_hits")
    assert plan.count("BroadcastHashJoin") >= 2


def test_salted_join_no_cartesian(spark, sf_dir):
    """The salt explode must stay an equi-join on (key, salt) — a
    CartesianProduct or BroadcastNestedLoopJoin is a regression."""
    plan = _plan(spark, sf_dir, "supplier_revenue_salted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_upsert_single_shuffle(spark, sf_dir):
    """Latest-wins merge: the union is narrow; the only hash exchange
    is the per-key window."""
    plan = _plan(spark, sf_dir, "orders_upsert_latest")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Union" in plan


def test_dedup_paragraph_no_python(spark, sf_dir):
    """Segment build is higher-order functions, not UDFs: the plan
    must contain no Python evaluation node."""
    plan = _plan(spark, sf_dir, "dedup_paragraph")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bm25_topk_uses_takeordered(spark, sf_dir):
    """The top-k must be TakeOrderedAndProject (per-partition heap +
    k-row driver merge) — a rangepartitioning sort or a global-window
    row_number here would be a single-partition bottleneck at scale."""
    plan = _plan(spark, sf_dir, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan


def test_hybrid_rrf_bounded_fusion(spark, sf_dir):
    """RRF fuses two TakeOrdered top-50 candidate lists; the only
    Window nodes sit ABOVE a 50-row GlobalLimit (rank assignment over
    an already-bounded frame), and the final top-k is again a
    per-partition heap — no unbounded single-partition stage."""
    plan = _plan(spark, sf_dir, "hybrid_rrf_topk")
    # each candidate list is cut to 50 rows by a per-partition heap
    # BEFORE its rank window (orderBy+limit compiles to
    # TakeOrderedAndProject, not a rangepartitioning sort), and the
    # final top-15 is a third heap over the ≤100-row fused frame
    assert plan.count("TakeOrderedAndProject(limit=50") == 2
    assert plan.count("TakeOrderedAndProject(limit=15") == 1
    # two rank-assignment Window NODES (physical operator lines), one
    # per candidate list — both above their 50-row heap
    assert plan.count("Window [row_number()") == 2
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_inverted_index_single_shuffle(spark, sf_dir):
    """explode → groupBy(term) is one hash shuffle; the bounded
    postings head must not add a sort exchange."""
    plan = _plan(spark, sf_dir, "inverted_index")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_token_entropy_reuses_partitioning(spark, sf_dir):
    """Both aggregations key on doc_id (after the per-(doc,term)
    count) — the plan must not exceed the two grouped shuffles, and
    the doc_id join must not introduce extra exchanges."""
    plan = _plan(spark, sf_dir, "token_entropy")
    assert plan.count("Exchange hashpartitioning") <= 3


def test_events_mad_outliers_broadcasts_stats(spark, sf_dir):
    """The per-type median/MAD rows are dimension-sized and must come
    back as broadcast joins, never a shuffle of the fact."""
    plan = _plan(spark, sf_dir, "events_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_important_parts_share_no_cartesian(spark, sf_dir):
    """The 1-row global total joins via broadcast nested loop (the
    intended plan for a 1-row side); a CartesianProduct would mean the
    broadcast hint was lost."""
    plan = _plan(spark, sf_dir, "important_parts_share")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dq_audit_fk_checks_are_anti_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dq_audit")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_dedup_incremental_anti_join(spark, sf_dir, monkeypatch):
    """Survivors come from LEFT ANTI joins against the rejection sets —
    the incremental screen must not materialize a positive cross join,
    neither above nor inside the minhash_est memo build."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "dedup_incremental", {"minhash_est"})
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "CartesianProduct" not in build


def test_source_cap_single_shuffle(spark, sf_dir):
    """The per-source cap is one window shuffle on source — the hash
    order key is computed inline, never a join."""
    plan = _plan(spark, sf_dir, "source_cap")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_term_pmi_broadcasts_stats(spark, sf_dir):
    """df/N frames broadcast into PMI scoring; the top-k must be
    TakeOrderedAndProject, and the min-count prune must run before the
    scoring joins (no unpruned pair stream reaches them)."""
    plan = _plan(spark, sf_dir, "term_pmi_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_events_props_variant_single_shuffle(spark, sf_dir):
    """parse_json → variant_get stays a narrow map; the only exchange
    is the grouped aggregate's."""
    plan = _plan(spark, sf_dir, "events_props_variant")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan  # variant path is JVM-side


def test_bigram_logprob_broadcasts_model(spark, sf_dir):
    """Bigram/context count tables broadcast into the scoring join;
    the per-doc average is the only hash aggregate consuming the
    scored stream — and nothing drops to Python."""
    plan = _plan(spark, sf_dir, "bigram_logprob")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_duplicate_spans_single_shuffle(spark, sf_dir):
    """Span detection is one explode + one combinable count: exactly
    one exchange, no join of any kind."""
    plan = _plan(spark, sf_dir, "duplicate_spans")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    # map-side combine: partial aggregate before the exchange
    assert plan.index("HashAggregate") < plan.index("Exchange hashpartitioning")


def test_bpe_induction_vocab_shaped(spark, sf_dir):
    """The BPE merge-table induction (riding bpe_encode since the
    round-12 consolidation): pair counting runs over the distinct-word
    aggregate (vocab-shaped), and the top-k is TakeOrderedAndProject —
    no single-partition global sort."""
    from data_pipeline_playground_spark.queries.corpus_stats import (
        _bpe_top_merges_frame,
    )

    plan = _bpe_top_merges_frame(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # word agg + pair agg
    assert "Join" not in plan


def test_dedup_keep_best_no_quadratic_join(spark, sf_dir, monkeypatch):
    """Canonical selection reuses the LSH candidate path: no cartesian
    product / BNLJ anywhere, and the argmax is a per-component window
    (SortMergeJoin/shuffle on bounded component partitions is fine).
    "Anywhere" includes the minhash_est memo build, which holds the
    MinHash band self-join (candidate_pairs/estimated_similarity)."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "dedup_keep_best", {"minhash_est"})
    assert "SortMergeJoin" in build or "BroadcastHashJoin" in build
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_knn_label_vote_broadcast_scan(spark, sf_dir):
    """The kNN join is one broadcast of the query set against a linear
    corpus scan — no shuffle join, no cartesian product."""
    plan = _plan(spark, sf_dir, "knn_label_vote")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # corpus side never shuffles for the join


def test_ann_pq_topk_codes_side_no_vectors(spark, sf_dir, monkeypatch):
    """ADC consumes the CODES table joined to broadcast distance
    tables: broadcast hash joins only, and the per-(q,n) sum is a
    combinable hash aggregate. The pq_model memo build (codebook fit
    and code assignment) has no nested-loop join either."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "ann_pq_topk", {"pq_model"})
    assert "BroadcastHashJoin" in plan
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_pq_codes_bounded_windows(spark, sf_dir, monkeypatch):
    """Code assignment is a NARROW MAP (r6): the packed per-subspace
    codebook broadcasts and the argmin is a transform+array_sort
    projection — no fan-out join, no window, no assignment shuffle.
    The assignment runs inside the pq_model memo build, so the pinned
    frames' build plans are checked; pq_codes itself reads the pin."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "pq_codes", {"pq_model"})
    assert "BroadcastHashJoin" in build
    assert "CartesianProduct" not in build
    assert "Window" not in build
    assert "ExistingRDD" in plan and "Window" not in plan


def test_orders_snapshot_diff_key_join(spark, sf_dir):
    """Snapshot diff is a keyed full-outer join — no cartesian, no
    BNLJ; the change classification is a narrow projection."""
    plan = _plan(spark, sf_dir, "orders_snapshot_diff")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan


def test_user_state_scd2_single_shuffle(spark, sf_dir):
    """Both SCD2 windows partition by user_id: the lag-collapse and
    the lead-intervalization share one hash exchange."""
    plan = _plan(spark, sf_dir, "user_state_scd2")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_split_leakage_broadcast_split_map(spark, sf_dir, monkeypatch):
    """The (doc_id, split) maps broadcast into the memoized candidate
    pairs — no extra shuffle beyond the signature pipeline, and no
    quadratic join anywhere, the minhash_est memo build included."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "split_leakage", {"minhash_est"})
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
    assert plan.count("BroadcastHashJoin") >= 2


def test_containment_prefix_filter(spark, sf_dir, monkeypatch):
    """Containment candidates come from the prefix×full equi-join on
    shingle hash — no cartesian product / BNLJ anywhere, the shingle
    memo builds included."""
    plan, build = _plan_and_builds(
        spark, sf_dir, monkeypatch, "dedup_containment_pairs",
        {"shingle_hash_ex", "shingle_ranked", "shingle_sets"},
    )
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_trade_triangles_broadcast_joins(spark, sf_dir):
    """The sparsified edge list is dimension-sized: both triangle
    joins broadcast. Round 14: the 6-table edge aggregate itself is
    the shared trade_edges memo (a checkpointed ExistingRDD scan in
    this plan), so the dims' broadcasts live in the memo build, not
    here."""
    plan = _plan(spark, sf_dir, "trade_triangles")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "ExistingRDD" in plan


def test_signup_latency_shares_user_key(spark, sf_dir):
    """Both min-aggregates and the final join key on user_id; the
    event-type filters must reach the parquet scan."""
    plan = _plan(spark, sf_dir, "signup_purchase_latency")
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan and "event_type" in plan


def test_truncation_fidelity_two_scans_no_shuffle_join(spark, sf_dir):
    """Both rankings are broadcast-scan windows; the overlap join is
    on (q_id, n_id) over 2×k·|q| rows — no SortMergeJoin of corpus-
    sized inputs."""
    plan = _plan(spark, sf_dir, "embedding_truncation_fidelity")
    assert "CartesianProduct" not in plan


# --- tpch_extra plan pins ---------------------------------------------------


def test_promo_revenue_pushes_dates_and_broadcasts_part(spark, sf_dir):
    """Q14 shape: both 1996 date bounds reach the lineitem scan; part
    is a broadcast dim; one hash exchange (the ship_month agg)."""
    plan = _plan(spark, sf_dir, "promo_revenue_monthly")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_customer_distribution_reuses_custkey_exchange(spark, sf_dir):
    """Q13 shape: the left join and the first groupBy share c_custkey
    partitioning, so the first aggregate adds no exchange — only the
    join inputs and the tiny counts-of-counts regroup shuffle."""
    plan = _plan(spark, sf_dir, "customer_distribution")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_small_qty_shares_partkey_exchange(spark, sf_dir):
    """Q17 shape: the per-part average and the probe re-shuffle on the
    same l_partkey key; no broadcast of the fact, no cartesian."""
    plan = _plan(spark, sf_dir, "small_qty_part_revenue")
    assert "CartesianProduct" not in plan


def test_large_volume_orders_filters_before_joins(spark, sf_dir):
    """Q18 shape: the HAVING survivors drive the joins; customer is
    broadcast; partial aggregation happens map-side."""
    plan = _plan(spark, sf_dir, "large_volume_orders")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_market_share_broadcasts_dim_chain(spark, sf_dir):
    """Q8 shape: customer-region prune and supplier-nation enrich are
    broadcast joins; the only wide work is lineitem⋈orders + one agg."""
    plan = _plan(spark, sf_dir, "market_share")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_nation_profit_broadcasts_all_dims(spark, sf_dir):
    """Q9 shape: part/supplier/nation all broadcast into the fact."""
    plan = _plan(spark, sf_dir, "nation_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_idle_customers_anti_join_no_collect(spark, sf_dir):
    """Q22 shape: NOT IN compiles to LeftAnti; the scalar threshold is
    a broadcast nested-loop of a ONE-ROW aggregate (allowed), never a
    driver collect."""
    plan = _plan(spark, sf_dir, "idle_customers")
    assert "LeftAnti" in plan


def test_top_supplier_quarter_pushes_quarter(spark, sf_dir):
    """Q15 shape: the quarter bounds reach the scan; equals-max is a
    one-row broadcast join back onto the per-supplier rollup."""
    plan = _plan(spark, sf_dir, "top_supplier_quarter")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1)


def test_returned_item_report_take_ordered(spark, sf_dir):
    """Q10 shape: the top-20 is TakeOrderedAndProject — no global sort
    materialization; returnflag filter reaches the scan."""
    plan = _plan(spark, sf_dir, "returned_item_report")
    assert "TakeOrderedAndProject" in plan
    assert "l_returnflag" in plan


def test_part_top_supplier_windows_after_rollup(spark, sf_dir):
    """Q2-argmax shape: the rank window consumes the (part, supplier)
    rollup, not raw lines — one Window operator with the rank-1 limit
    pushed down (WindowGroupLimit prunes before the final sort)."""
    plan = _plan(spark, sf_dir, "part_top_supplier")
    assert plan.count("Window [") == 1
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_priority_order_count_semi_join(spark, sf_dir):
    """Q4 shape: EXISTS is a LeftSemi join; returnflag + date filters
    reach their scans."""
    plan = _plan(spark, sf_dir, "priority_order_count")
    assert "LeftSemi" in plan
    assert "l_returnflag" in plan


def test_bracket_revenue_broadcasts_part(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs stays post-join in one codegen stage;
    part broadcasts; no cartesian."""
    plan = _plan(spark, sf_dir, "bracket_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --- timeseries plan pins ---------------------------------------------------


def test_rolling_revenue_single_shuffle(spark, sf_dir):
    """RANGE-frame rolling window: one hash shuffle on o_custkey, no
    join, no global sort."""
    plan = _plan(spark, sf_dir, "customer_rolling_90d_revenue")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_gapfill_broadcasts_spine(spark, sf_dir):
    """The generated spine × types is dimension-sized and broadcasts
    against the daily rollup — the fact table is scanned, aggregated,
    and joined without a wide spine shuffle."""
    plan = _plan(spark, sf_dir, "events_daily_gapfill")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_value_trend_single_combinable_shuffle(spark, sf_dir):
    """The five sufficient statistics partial-aggregate map-side: one
    hash shuffle on user_id, no window, no join."""
    plan = _plan(spark, sf_dir, "user_value_trend")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "partial_" in plan  # map-side combine actually present


def test_daily_wow_bounded_window(spark, sf_dir):
    """The lag-7 WoW readout (merged into revenue_seasonal_decompose,
    round 11) still runs its window over the post-aggregate daily
    frame; the corpus-sized work is one combinable groupBy on day and
    the only join is the broadcast seasonal-index join back."""
    plan = _plan(spark, sf_dir, "revenue_seasonal_decompose")
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_histogram_broadcasts_bounds(spark, sf_dir):
    """Global min/max is a one-row broadcast (never a collect); the
    bin count partial-aggregates map-side to ≤ NBINS groups."""
    plan = _plan(spark, sf_dir, "event_value_histogram")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_split_divergence_one_corpus_pass(spark, sf_dir):
    """Tokens explode once into a vocab-shaped groupBy; scalars
    broadcast; contributions stay JVM-side (no Python eval)."""
    plan = _plan(spark, sf_dir, "split_unigram_divergence")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("FileScan parquet") <= 2  # documents read, not re-read per branch


def test_hard_negatives_broadcast_no_shuffle_pairs(spark, sf_dir):
    """Hard-negative mining is the cosine-topk plan: the query set
    broadcasts into a single linear pool scan; the only hash exchange
    is the per-query window partitioning."""
    plan = _plan(spark, sf_dir, "hard_negatives_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_contrastive_negatives_deterministic_no_rng(spark, sf_dir):
    """Uniform negatives come from the salted hash, not rand(): the
    plan must contain no Rand expression and no Python eval."""
    plan = _plan(spark, sf_dir, "contrastive_negatives")
    assert "rand(" not in plan
    assert "BatchEvalPython" not in plan


def test_locf_single_shuffle_no_arithmetic(spark, sf_dir):
    """LOCF is one user_id window over the scan: one hash exchange,
    no join, no Python eval."""
    plan = _plan(spark, sf_dir, "user_value_locf")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_order_gaps_window_and_agg_share_key(spark, sf_dir):
    """The lag window and the median aggregate both key on o_custkey:
    one physical shuffle end-to-end."""
    plan = _plan(spark, sf_dir, "customer_order_gaps")
    assert plan.count("Exchange hashpartitioning") == 1


def test_user_curves_linear_not_expanding(spark, sf_dir):
    """daily_user_curves (round-10 merge): first/last-occurrence
    transforms + the 7-day forward fan-out — never an expanding or
    sliding COUNT(DISTINCT) re-scan (no rangepartitioning window over
    the corpus), joins only on the bounded daily frames, partial
    aggregation map-side."""
    plan = _plan(spark, sf_dir, "daily_user_curves")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    # exactly one corpus-sized distinct (the shared ud frame is cached);
    # every join key is day-cardinality, so no fact-sized SMJ exchanges
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_discount_corr_broadcast_and_partials(spark, sf_dir):
    """Per-brand correlation: part broadcasts; the five sufficient
    statistics partial-aggregate map-side under one p_brand shuffle."""
    plan = _plan(spark, sf_dir, "discount_quantity_corr")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_purchases_asof_click_window_shape(spark, sf_dir):
    """The inclusive as-of join must stay a union+window plan: no join
    operator at all (the whole point vs a theta self-join), and at most
    two hash exchanges (click de-dup + the user_id merge window)."""
    plan = _plan(spark, sf_dir, "purchases_asof_click")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "PushedFilters" in plan and "purchase" in plan


def test_purchases_range_clicks_bucketed_join(spark, sf_dir):
    """Bucketed range join: the type filters reach the scans and the
    bounded bucket fanout must never degrade to a cartesian/broadcast
    nested-loop theta join."""
    plan = _plan(spark, sf_dir, "purchases_range_clicks")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_events_time_rollup_single_pass(spark, sf_dir):
    """Native ROLLUP: one Expand over one pass of events (no
    union-of-grains rescans), partial aggregation before the single
    hash exchange."""
    plan = _plan(spark, sf_dir, "events_time_rollup")
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_first_chain_single_shuffle(spark, sf_dir):
    """Three chained window stages + the final groupBy all share one
    user_id partitioning — exactly ONE hash exchange, zero joins (the
    oracle's three-join phrasing would shuffle events three times)."""
    plan = _plan(spark, sf_dir, "funnel_first_chain")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_events_throttle_single_shuffle_arrow(spark, sf_dir):
    """Sequential per-key throttle: one composite-key shuffle, sorted
    partitions, ONE MapInPandas scan per partition (per-batch Python
    calls — NOT per-key FlatMapGroupsInPandas, whose per-key pandas
    construction dominates at billions of keys); 3-column scan."""
    plan = _plan(spark, sf_dir, "events_throttle_1h")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 3


def test_quartiles_ranked_no_global_sort(spark, sf_dir):
    """Exact distributed ntile: range partitioning + per-bucket window;
    the only SinglePartition exchange may be the <=P-row offsets frame
    (below the broadcast), never the customer frame's ranking path."""
    plan = _plan(spark, sf_dir, "customer_spend_quartiles_ranked")
    assert "rangepartitioning" in plan
    main = plan.split("BroadcastExchange")[0]
    assert "SinglePartition" not in main


def test_cogroup_survives_sorted_projection(spark, sf_dir):
    """Regression for the Spark 4.1 cogroup mis-pruning hazard: a
    reordering projection above FlatMapCoGroupsInPandas used to prune
    the right child to [user_id, user_id, value], silently dropping
    ts/event_id — every as-of match came back null. With the
    alphabetical output schema the driver's sort-columns projection is
    a no-op; this pins that both fetch shapes agree."""
    df = _QUERIES["purchases_asof_click_cogroup"](spark, sf_dir)
    plain = {(r.event_id, r.click_ts) for r in df.collect()}
    reordered = {
        (r.event_id, r.click_ts)
        for r in df.select(*sorted(df.columns)).collect()
    }
    assert plain == reordered
    n_null = sum(1 for _, c in plain if c is None)
    assert n_null < len(plain)  # matches must survive the projection


def test_checked_assignment_broadcast_codebook(spark, sf_dir):
    """Checked clustering assignment: every Lloyd/seed pass broadcasts
    the ≤4-row codebook (constant-key BroadcastHashJoin fan-out, never
    a cartesian), and the argmin windows partition by vec_id — no
    global-order window. Pinned on bisecting_assign_checked because
    its plan is built inline; kmeans_assign_checked shares _km_assign
    but memoizes a pinned frame, so its plan is a checkpoint scan."""
    plan = _plan(spark, sf_dir, "bisecting_assign_checked")
    # codebook probes: BNLJ with the tiny build side broadcast (the
    # corpus never shuffles for the join); the level-2 seed join has a
    # real equi key (side) and must stay a broadcast HASH join
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(vec_id" in plan


def test_dedup_fuzzy_greedy_component_parallel(spark, sf_dir):
    """Greedy-chain dedup: the sequential section is the per-component
    FlatMapGroupsInPandas (components are bounded, so per-key pandas
    is correct here — contrast events_throttle_1h where keys are
    unbounded in count); edge-free docs bypass Python via a hash
    anti-join, never a nested-loop."""
    plan = _plan(spark, sf_dir, "dedup_fuzzy_greedy")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    m = re.search(r"ReadSchema: struct<doc_id[^>]*>", plan)
    assert m  # the singles anti-join scans doc_id (+title cols), not full rows


def test_cogroup_mispruning_bug_still_exists_upstream(spark, sf_dir):
    """CANARY for the Spark 4.1 upstream bug the alphabetical-schema
    workaround exists for (VERDICT r5 #8): a REORDERING projection
    above FlatMapCoGroupsInPandas mis-prunes the RIGHT cogroup child.
    This test rebuilds the as-of cogroup WITHOUT the workaround (a
    deliberately non-alphabetical output schema, so a sort-columns
    projection reorders) and asserts the bug STILL FIRES — the right
    block arrives incomplete and matches degrade to null.

    IF THIS TEST FAILS after a Spark upgrade: the upstream bug is
    fixed. Remove the workaround (alphabetical schema + partial-block
    guard) in queries/temporal_joins.py purchases_asof_click_cogroup,
    flip this canary, and drop the pin note in SURVEY/PLANS docs.
    """
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from data_pipeline_playground_spark.tables import table

    ev = table(spark, sf_dir, "events")
    bkt = (F.col("user_id") % 8).alias("bkt")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", bkt
    )
    dw = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
            bkt,
        )
    )

    def merge(p_pdf, c_pdf):
        if not len(p_pdf):
            return pd.DataFrame(
                columns=["user_id", "purchase_ts", "event_id", "click_ts", "click_value"]
            )
        p = p_pdf.sort_values("ts")
        if len(c_pdf) and {"user_id", "click_ts", "click_value"} <= set(c_pdf.columns):
            c = c_pdf.sort_values("click_ts")[["user_id", "click_ts", "click_value"]]
        else:  # mis-pruned (or genuinely empty) right block
            c = pd.DataFrame(
                {
                    "user_id": pd.Series(dtype=p["user_id"].dtype),
                    "click_ts": pd.Series(dtype=p["ts"].dtype),
                    "click_value": pd.Series(dtype="float64"),
                }
            )
        m = pd.merge_asof(
            p, c, left_on="ts", right_on="click_ts", by="user_id",
            direction="backward",
        )
        return pd.DataFrame(
            {
                "user_id": m["user_id"],
                "purchase_ts": m["ts"],
                "event_id": m["event_id"],
                "click_ts": m["click_ts"],
                "click_value": m["click_value"].astype("Float64"),
            }
        )

    # NON-alphabetical output schema — no workaround: the consumer's
    # sorted-columns projection below is a genuine reordering
    naked = (
        purchases.groupBy("bkt")
        .cogroup(clicks.groupBy("bkt"))
        .applyInPandas(
            merge,
            schema="user_id bigint, purchase_ts timestamp_ntz, event_id bigint, "
            "click_ts timestamp_ntz, click_value double",
        )
    )
    reordered = naked.select(*sorted(naked.columns)).collect()
    n_match_naked = sum(1 for r in reordered if r.click_ts is not None)
    # ground truth from the workaround query (driver-green oracle)
    good = _QUERIES["purchases_asof_click_cogroup"](spark, sf_dir)
    n_match_good = sum(
        1 for r in good.select(*sorted(good.columns)).collect()
        if r.click_ts is not None
    )
    assert n_match_good > 0  # the corpus genuinely has matches
    assert n_match_naked < n_match_good, (
        "Spark's cogroup mis-pruning did NOT reproduce: the upstream "
        "bug appears FIXED in this Spark version — remove the "
        "alphabetical-schema workaround in purchases_asof_click_cogroup"
    )


def test_cogroup_click_dedup_in_jvm(spark, sf_dir):
    """The cogroup as-of demo must keep its click-side timestamp dedup
    in a JVM window BEFORE FlatMapCoGroupsInPandas (pushed out of the
    per-key Python merge in round 5): a Window over (user_id, ts)
    appears below the cogroup and the right child ships exactly
    (user_id, click_ts, click_value)."""
    plan = _plan(spark, sf_dir, "purchases_asof_click_cogroup")
    assert "FlatMapCoGroupsInPandas" in plan
    # tree prints top-down: the dedup window sits BELOW the cogroup,
    # so its row_number text appears after the cogroup operator's
    assert plan.index("row_number") > plan.index("FlatMapCoGroupsInPandas")


def test_pit_state_no_interval_join(spark, sf_dir):
    """Point-in-time SCD2 lookup: union+window re-expression — zero
    join operators (the oracle's interval join would be per-key
    quadratic), at most two user_id hash exchanges."""
    plan = _plan(spark, sf_dir, "purchases_pit_state")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ivm_merge_combinable_states(spark, sf_dir):
    """IVM state merge: two partial aggregates (map-side combined)
    merged by a key-colocated full-outer join — no broadcast of a
    growing side, no extra exchange beyond the two state builds."""
    plan = _plan(spark, sf_dir, "orders_ivm_merge")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_" in plan


def test_skew_profiler_takeordered(spark, sf_dir):
    """Skew profiler: top-N heavy hitters via TakeOrderedAndProject
    (per-partition top-N + driver merge), never a global Sort; the
    totals frame is a broadcast 2-value scalar."""
    plan = _plan(spark, sf_dir, "lineitem_supplier_skew")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_sole_late_no_expand_no_self_join(spark, sf_dir):
    """supplier_sole_late replaces Q21's EXISTS/NOT-EXISTS self-joins
    with per-order aggregation, and its distinct-supplier counts are a
    manual two-level aggregate: lineitem is scanned ONCE, there is no
    gid-Expand (mixed countDistincts would 3× the row stream), and the
    supplier dim broadcasts."""
    plan = _plan(spark, sf_dir, "supplier_sole_late")
    assert plan.count("lineitem.parquet") == 1  # no EXISTS self-joins
    assert "Expand" not in plan  # manual two-level, not gid-expand
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # supplier (and orders at this SF)
    # every shuffle carries map-side-combined rows, never raw lineitems
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3


def test_training_shuffle_write_path_no_global_sort(spark, sf_dir):
    """The epoch-shuffle WRITE shape (repartition by shard +
    sortWithinPartitions by key) must plan as ONE hash exchange and a
    LOCAL sort — a global range exchange here would serialize the
    whole corpus through a sampled ordering at 100 TB."""
    from pyspark.sql import functions as F

    from data_pipeline_playground_spark.functions.text import rolling_hash
    from data_pipeline_playground_spark.queries.sampling import (
        EPOCH_SALT,
        N_SHARDS,
    )
    from data_pipeline_playground_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    key = rolling_hash(
        F.concat(F.lit(EPOCH_SALT), F.col("doc_id").cast("string"))
    )
    out = (
        docs.select("doc_id", "text", (key % N_SHARDS).alias("shard"),
                    key.alias("shuffle_key"))
        .repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shuffle_key")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()  # no global sort
    assert plan.count("Exchange hashpartitioning") == 1
    # the sort is local to each shard partition
    assert re.search(r"Sort \[shuffle_key[^\]]*\], false", plan)


def test_embedding_dim_audit_combinable_shuffles(spark, sf_dir):
    """The merged dim panel (round-12 consolidation): posexplode is a
    narrow map and every exchange carries a dim-key partial aggregate
    — map-side combine before each shuffle, so the wire moves
    dim-cardinality rows, never the exploded component stream."""
    plan = _plan(spark, sf_dir, "embedding_dim_audit")
    assert "partial_" in plan  # map-side combine before the exchange
    assert "CartesianProduct" not in plan


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    """The top-N vocab (tiny) must broadcast into the val-token scan —
    a shuffled join here would re-shuffle every token at 100 TB — and
    the vocab's own top-N must be TakeOrdered, never a global sort."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_events_ewma_single_shuffle_jvm_only(spark, sf_dir):
    """EWMA is one user_id window pass: one hash exchange, no Python
    (the 2^i weighting stays in codegen'd higher-order functions)."""
    plan = _plan(spark, sf_dir, "events_ewma")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_forecast_revenue_pushes_all_predicates(spark, sf_dir):
    """Q6 is the pure pushdown showcase: date/discount/quantity filters
    must reach the parquet scan, and the plan has no join at all."""
    plan = _plan(spark, sf_dir, "forecast_revenue_change")
    assert "PushedFilters:" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:400]
    assert "Join" not in plan


def test_late_priority_filter_below_fact_join(spark, sf_dir):
    """Q12's 1996 ship-date filter must sit below the orderkey join
    (scan-level), so the fact⋈fact shuffle moves only the year slice."""
    plan = _plan(spark, sf_dir, "late_priority_lines")
    pushed = plan.split("PushedFilters:")[1][:400] if "PushedFilters:" in plan else ""
    assert "l_shipdate" in pushed
    assert "CartesianProduct" not in plan


def test_part_supplier_variety_broadcasts_dims(spark, sf_dir):
    """Q16: exclusion list is a broadcast anti-join and part a broadcast
    inner — the only shuffles belong to the pair-distinct and the
    final count-distinct rollup."""
    plan = _plan(spark, sf_dir, "part_supplier_variety")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_dominant_suppliers_window_above_aggregate(spark, sf_dir):
    """Q20: the per-part total window must run over the (partkey,
    suppkey) AGGREGATE, not the raw fact — exactly one exchange may
    carry fact-width rows (the inner groupBy)."""
    plan = _plan(spark, sf_dir, "dominant_part_suppliers")
    assert "Window" in plan
    # window input is the aggregated frame: its exchange partitions by
    # l_partkey alone and sits above a HashAggregate
    assert "BroadcastHashJoin" in plan  # part-family semi + supplier name
    assert "SortMergeJoin" not in plan


def test_embedding_dim_audit_broadcasts_dim_ranges(spark, sf_dir):
    """The per-dim [min,max] table (dim-cardinality) must broadcast back
    into the exploded component stream for the int8 half — a sort-merge
    join here would shuffle every component twice at 100 TB — and the
    closing dim-grain panel join must broadcast too."""
    plan = _plan(spark, sf_dir, "embedding_dim_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_events_cusum_single_exchange_jvm_only(spark, sf_dir):
    """CUSUM's three windows (per-user sum/count, ordered cumsum,
    prefix-min) all partition by user_id, so they must reuse ONE hash
    exchange; the closed-form statistic keeps Python out entirely."""
    plan = _plan(spark, sf_dir, "events_cusum_drift")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_basket_pairs_takeordered_no_cartesian(spark, sf_dir):
    """The basket pair fan-out must be an equi-join on the basket key
    (never a cartesian) and the top-k a TakeOrdered rather than a
    global sort (basket_rules absorbed parts_bought_together's pair
    mining in the round-10 consolidation; the 1-row N attach is the
    intended broadcast nested-loop)."""
    plan = _plan(spark, sf_dir, "basket_rules")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_ab_test_lift_broadcasts_totals(spark, sf_dir):
    """The 1-row arm totals must attach by broadcast (nested-loop with a
    1-row build side is the intended fan-out); the statistic itself is
    pure JVM arithmetic — no Python anywhere."""
    plan = _plan(spark, sf_dir, "ab_test_lift")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_path_trigrams_takeordered_no_python(spark, sf_dir):
    """Path mining must stay JVM-side (higher-order trigram transform,
    not a Python UDF) with a TakeOrdered top-k, never a global sort."""
    plan = _plan(spark, sf_dir, "user_path_trigrams")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_backtest_window_over_daily_frame(spark, sf_dir):
    """The lag-7 forecast window must run over the post-aggregate daily
    frame — the plan's only fact-width exchange is the groupBy(day)
    partial aggregate; no Python anywhere."""
    plan = _plan(spark, sf_dir, "daily_revenue_backtest")
    assert plan.count("Exchange hashpartitioning") <= 2  # day agg + month agg
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_winnow_fingerprints_map_only(spark, sf_dir):
    """Winnowing extraction promises ZERO shuffles: tokenize, hash,
    and window-select all happen inside array higher-order functions;
    the only operators above the scan are project/filter/generate."""
    plan = _plan(spark, sf_dir, "winnow_fingerprints")
    assert "Exchange" not in plan
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_matches_joins_on_fingerprint(spark, sf_dir):
    """The match self-join must key on the fingerprint value (hash
    join), never a cartesian/all-pairs stage."""
    plan = _plan(spark, sf_dir, "winnow_matches")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_skyline_window_over_distinct_prices(spark, sf_dir):
    """The running max runs above the per-price aggregate (distinct
    prices), not over the raw part table."""
    plan = _plan(spark, sf_dir, "skyline_parts")
    assert "Window" in plan
    # plans print top-down: the Window's INPUT (printed after it) is the
    # price-level HashAggregate, so the raw scan never feeds the window
    assert plan.index("Window") < plan.index("HashAggregate")


def test_item_item_no_cartesian_topk_window(spark, sf_dir):
    """Pair generation is a self-equi-join on l_orderkey; top-3 is a
    per-item window — no cartesian, no global sort."""
    plan = _plan(spark, sf_dir, "item_item_neighbors")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "Sort [co" not in plan  # no global sort on cosine


def test_benford_single_digit_agg(spark, sf_dir):
    """One 9-key hash agg + broadcast scalar total; the orders scan
    reads only o_totalprice."""
    plan = _plan(spark, sf_dir, "benford_audit")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(s.strip() == "o_totalprice:double" for s in m)


def test_dsir_broadcasts_bucket_weights(spark, sf_dir):
    """The 64-row bucket-weight table must broadcast into the per-doc
    score join; the final top-K compiles to TakeOrdered (no global
    sort)."""
    plan = _plan(spark, sf_dir, "dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_twap_single_exchange(spark, sf_dir):
    """lead() window and the per-user aggregate share ONE user_id
    exchange, all JVM-side."""
    plan = _plan(spark, sf_dir, "twap_user_value")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_basket_rules_takeordered_broadcast_total(spark, sf_dir):
    """Top-30-by-lift compiles to TakeOrdered; the scalar order total
    broadcasts; pair generation stays an equi-join (no cartesian)."""
    plan = _plan(spark, sf_dir, "basket_rules")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_weekly_movers_two_windows_one_agg(spark, sf_dir):
    """Weekly agg feeds a per-week rank window then a per-part lag
    window; no global sort and no Python. The query's eager
    localCheckpoint hides the board's operators from the final
    explain, so the window shape is asserted on the factored-out
    pre-checkpoint board; the full query's plan must read the board
    from the checkpoint scan (fact pass executes exactly once) with
    no Python stage."""
    from data_pipeline_playground_spark.queries.analytics import (
        _movers_board,
    )

    board = (
        _movers_board(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert board.count("Window") == 2
    assert "BatchEvalPython" not in board and "ArrowEvalPython" not in board
    plan = _plan(spark, sf_dir, "part_weekly_movers")
    assert "ExistingRDD" in plan  # board comes from the checkpoint
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rake_all_jvm_no_cartesian(spark, sf_dir):
    """RAKE phrase splitting is array-transform map work; scoring is
    hash aggs + an equi-join on (doc_id, word) — no Python stage, no
    cartesian."""
    plan = _plan(spark, sf_dir, "rake_keywords")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_decompose_windows_above_daily_agg(spark, sf_dir):
    """The 7-day MA window must run over the DAILY aggregate (bounded
    frame), and the weekday index joins back via broadcast."""
    plan = _plan(spark, sf_dir, "revenue_seasonal_decompose")
    assert "BroadcastHashJoin" in plan
    # window over the aggregated daily frame, printed above its input agg
    assert plan.index("Window") < plan.index("HashAggregate")


def test_ngram_novelty_gram_keyed_join(spark, sf_dir):
    """First-occurrence is a min-agg joined back on the gram key —
    hash joins only, no Python, no cartesian."""
    plan = _plan(spark, sf_dir, "ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_term_chi2_broadcast_totals_takeordered(spark, sf_dir):
    """Scalar totals broadcast (1-row build side) and the top-20
    compiles to TakeOrdered — no global sort of the vocabulary."""
    plan = _plan(spark, sf_dir, "term_lang_chi2")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_top_pc_single_pass_agg_no_python(spark, sf_dir):
    """The PCA power iteration must be ONE single-pass aggregate over
    the embeddings scan (44 moment columns, partial-combinable) plus
    scalar expression work on the 1-row result — no Python stage, no
    join, no second scan."""
    plan = _plan(spark, sf_dir, "embedding_top_pc")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_rfm_no_single_partition_customer_sort(spark, sf_dir):
    """RFM ranks three dimensions via the two-level range scheme —
    the customer frame must never pass through a SinglePartition
    exchange (only the <=P-row offsets frames may)."""
    plan = _plan(spark, sf_dir, "customer_rfm_segments")
    assert "rangepartitioning" in plan
    main = plan.split("BroadcastExchange")[0]
    assert "SinglePartition" not in main


def test_median_ci_broadcast_sample_join(spark, sf_dir):
    """The draw matrix joins the per-type sample via broadcast (the
    sample is |types|*N rows by construction); no cartesian."""
    plan = _plan(spark, sf_dir, "event_value_median_ci")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gini_ranks_without_global_sort(spark, sf_dir):
    """The merged Lorenz+Gini query ranks spend via the two-level
    scheme — the customer frame must not cross a SinglePartition
    exchange before the 1-row moment aggregate / decile rollup."""
    plan = _plan(spark, sf_dir, "revenue_lorenz_gini")
    assert "rangepartitioning" in plan


def test_hhi_broadcast_dims_two_aggs(spark, sf_dir):
    """Supplier and nation broadcast into the lineitem scan; the HHI
    rollup is two hash aggregates, no Python, no cartesian."""
    plan = _plan(spark, sf_dir, "nation_supplier_hhi")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_markov_single_conditional_agg(spark, sf_dir):
    """The 5x5 transition pivot is ONE conditional aggregate above the
    lag window; the iteration is scalar work — exactly one window,
    no join, no Python."""
    plan = _plan(spark, sf_dir, "events_markov_stationary")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ks_three_rankings_no_single_partition_fact(spark, sf_dir):
    """KS cumulative counts come from two-level rankings — the pooled
    event frame must never cross a SinglePartition exchange (only the
    offsets/scalar frames may, below broadcasts)."""
    plan = _plan(spark, sf_dir, "value_ks_drift")
    assert "rangepartitioning" in plan
    # the oracle needs a global cumulative window over the pooled
    # values; the Spark plan may only contain the ranking operator's
    # windows (per-bucket row_numbers partitioned by _pid, the <=P-row
    # offsets scan ordered by _pid) plus the tie-group snap window,
    # which is PARTITIONED by v (hashpartitioning exchange). An
    # UNPARTITIONED window ordered by the value key would be the
    # single-partition scan we exist to avoid.
    # (v is DOUBLE, so the exchange key is NaN/zero-normalized)
    assert re.search(
        r"hashpartitioning\((?:knownfloatingpointnormalized\("
        r"normalizenanandzero\()?v#", plan)
    assert not re.search(r"windowspecdefinition\(v#\d+ ASC", plan)


def test_triplet_broadcast_negatives_no_cartesian(spark, sf_dir):
    """Negatives join a |labels|-row broadcast; positives are a
    label-equi join; vector fetches are id-equi joins."""
    plan = _plan(spark, sf_dir, "triplet_margin_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cuped_two_combinable_aggs_no_join(spark, sf_dir):
    """CUPED is one user_id aggregate + one 1-row moment aggregate —
    no join, no window, no Python."""
    plan = _plan(spark, sf_dir, "ab_test_cuped")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_pr_audit_fullouter_equi_join(spark, sf_dir, monkeypatch):
    """The tp/fp/fn counting is a full-outer EQUI join on the pair key
    (sort-merge or hash), never a nested-loop — nor is any join in the
    truth (exact Jaccard) or LSH memo builds it reads."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "dedup_pr_audit", _AUDIT_MEMOS)
    assert "FullOuter" in plan
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_lorenz_gini_broadcast_scalar(spark, sf_dir):
    """Lorenz deciles rank via the two-level scheme; the 1-row Gini
    scalar attaches by broadcast; the only windows run over the 10-row
    decile frame."""
    plan = _plan(spark, sf_dir, "revenue_lorenz_gini")
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_assortativity_no_cartesian_one_row_moments(spark, sf_dir):
    """Edge moments are a 1-row aggregate over the symmetrized edge
    list; pair generation stays the bounded per-order equi-join."""
    plan = _plan(spark, sf_dir, "copurchase_assortativity")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_pchart_no_fact_broadcast(spark, sf_dir):
    """orders is fact-sized: the lineitem-orders join must NOT force a
    broadcast of orders via hint (AQE may still pick one at tiny test
    scale); both scans prune to two columns."""
    plan = _plan(spark, sf_dir, "late_shipment_pchart")
    ms = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any("o_orderkey" in s and "o_orderdate" in s and s.count(":") == 2
               for s in ms)
    assert any("l_orderkey" in s and "l_shipdate" in s and s.count(":") == 2
               for s in ms)


def test_acf_lag_join_on_daily_frame(spark, sf_dir):
    """The ACF self-join runs on the DAILY aggregate against a 4-row
    lag spine — no window, no cartesian against the fact table (the
    lag spine broadcast fan-out is the intended 4x)."""
    plan = _plan(spark, sf_dir, "revenue_acf")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_profile_bounded_aggs(spark, sf_dir):
    """source_text_profile (round-10 merge of lexical diversity +
    readability; round-12 absorbed source_quality_report's health
    metrics into the same scan branch): explode -> (source,term) agg
    -> source rollup plus one per-doc-expression source aggregate,
    joined on source-cardinality keys — no Python, no cartesian, and
    absorbing the health rollup must NOT have added an exchange."""
    plan = _plan(spark, sf_dir, "source_text_profile")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_migration_two_rankings_no_global_sort(spark, sf_dir):
    """Both half-period quartile assignments use the two-level ranking
    (range partitioning); the migration matrix is an equi-join +
    16-key aggregate."""
    plan = _plan(spark, sf_dir, "customer_quartile_migration")
    assert plan.count("rangepartitioning") >= 2
    assert "CartesianProduct" not in plan


def test_rate_shift_single_conditional_agg(spark, sf_dir):
    """One conditional-count aggregate over one scan; pure JVM."""
    plan = _plan(spark, sf_dir, "event_rate_shift")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fk_audit_broadcasts_dims_no_cartesian(spark, sf_dir):
    """Six of the seven FK edges join a dimension parent -> broadcast;
    the lineitem->orders edge stays a co-partitioned key join; every
    child is pre-aggregated before its join (no raw-row exchange of
    the parent key set)."""
    plan = _plan(spark, sf_dir, "fk_integrity_audit")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 6


def test_kanon_windows_only_post_aggregate(spark, sf_dir):
    """The share denominator's single-partition window runs over the
    bounded k-histogram, never the customer table: exactly three hash
    exchanges — (QI, segment) dedup for the distinct count, QI, k —
    all partial-aggregated, upstream of the one SinglePartition
    exchange."""
    plan = _plan(spark, sf_dir, "k_anonymity_audit")
    assert plan.count("Exchange hashpartitioning") == 3
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_attribution_bucketed_range_join(spark, sf_dir):
    """The hour-window touch lookup is the bucketed equi-join (never a
    nested loop); touchless purchases return via a LeftAnti; credit
    math is pure JVM."""
    plan = _plan(spark, sf_dir, "attribution_linear")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcore_linear_round_chain(spark, sf_dir):
    """Each peel round is exactly two window passes (degree per
    endpoint) over the previous round's edges — 2 x KCORE_ROUNDS
    Window operators, no join after the pair build, no Python."""
    from data_pipeline_playground_spark.queries.graph_mining import KCORE_ROUNDS

    plan = _plan(spark, sf_dir, "kcore_parts")
    assert plan.count("Window") == 2 * KCORE_ROUNDS
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_link_prediction_broadcast_mid_anti_join_topk(spark, sf_dir):
    """The hub-capped intermediate table is broadcast into the wedge
    join; existing edges leave via LeftAnti; the top-100 is a
    TakeOrdered, not a global sort."""
    plan = _plan(spark, sf_dir, "link_prediction_ra")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ushape_attribution_same_join_shape_as_linear(spark, sf_dir):
    """U-shaped attribution shares the bucketed range-join + LeftAnti
    touchless recovery; ranks/credit stay pure JVM."""
    plan = _plan(spark, sf_dir, "attribution_ushape")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_effective_sources_two_aggs_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "source_effective_number")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_separation_broadcast_codebook_joins(spark, sf_dir,
                                                    monkeypatch):
    """Corpus never shuffles except the 16-row-partition argmin window;
    the codebook fan-outs are the intended <=16-row
    BroadcastNestedLoopJoins; the 16x16 inter-centroid join is
    broadcast too. The k-means memo builds obey the same rules."""
    plan, build = _plan_and_builds(
        spark, sf_dir, monkeypatch, "cluster_separation_audit",
        {"kmeans_checked_centroids", "kmeans_checked_model"},
    )
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_collocation_dice_broadcast_unigrams_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "collocation_dice")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_curriculum_two_level_ranking(spark, sf_dir):
    """Deciles come from the range-partitioned two-level ranking — no
    single-partition global sort of the corpus."""
    plan = _plan(spark, sf_dir, "curriculum_stages")
    assert "rangepartitioning" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session_conversion_shares_user_partitioning(spark, sf_dir):
    """Both gaps-and-islands windows and the session aggregate run on
    the user_id exchange; only the 4-band rollup adds a second."""
    plan = _plan(spark, sf_dir, "session_conversion")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_mutual_nn_bucket_equi_join_no_all_pairs(spark, sf_dir):
    """Candidates come from the LSH-bucket EQUI join — never an
    all-pairs nested loop; the mutual check is a join on the n-row
    top-1 table."""
    plan = _plan(spark, sf_dir, "mutual_nn_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cascade_audit_semi_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cascade_delete_audit")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_skew_audit_no_fact_sort(spark, sf_dir):
    """Top-8 per key is a TakeOrdered over the distinct-key counts,
    never a global sort of the fact table."""
    plan = _plan(spark, sf_dir, "join_key_skew_audit")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_lang_confusion_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lang_id_confusion")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temporal_split_broadcast_bounds(spark, sf_dir):
    """The min/max bounds frame and train's distinct-user set are
    broadcast; events never shuffle for the split assignment."""
    plan = _plan(spark, sf_dir, "temporal_split_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_prf_broadcast_terms_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bm25_prf_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_join_ivm_one_join_two_aggs(spark, sf_dir):
    """The delta decomposition adds NO exchanges over the direct query:
    one co-partitioned fact join, quadrant partial agg, priority merge."""
    plan = _plan(spark, sf_dir, "join_ivm_certificate")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mix_chi2_dimension_sized_joins(spark, sf_dir):
    """Row/col/grand totals broadcast into the dense cell frame; the
    only fact-shaped work is the (week, type) count."""
    plan = _plan(spark, sf_dir, "event_mix_chi2")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_late_trend_combinable_aggs_topk(spark, sf_dir):
    """Per-supplier state is 5 sufficient statistics — two combinable
    aggregates and a TakeOrdered; no per-supplier series window."""
    plan = _plan(spark, sf_dir, "supplier_late_trend")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_checksum_bucketed_combinable(spark, sf_dir):
    """Per table: a 1024-group map-side-combinable aggregate + a
    one-row fold; no join, no window, pure JVM."""
    plan = _plan(spark, sf_dir, "table_checksum")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rec_backtest_broadcast_neighbors(spark, sf_dir):
    """The neighbor table is item-dimension-sized and broadcast into
    test baskets; the train self-join is the bounded basket shape."""
    plan = _plan(spark, sf_dir, "item_rec_backtest")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_gap_bands_single_user_shuffle(spark, sf_dir):
    """The as-of carry-forward runs on ONE user_id exchange; the share
    window sees only the <=5 band rows."""
    plan = _plan(spark, sf_dir, "purchase_click_gap_bands")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bd_latency_no_calendar_explode(spark, sf_dir):
    """Closed-form weekday counting: no generator/explode, no Python;
    one combinable min + the orderkey join + the priority rollup."""
    plan = _plan(spark, sf_dir, "orders_business_day_latency")
    assert "Generate" not in plan  # no per-day explode
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_staleness_broadcast_max(spark, sf_dir):
    """The staleness readout now lives on daily_user_curves: the 1-row
    dmax attaches by broadcast (nested-loop with a 1-row build side is
    the intended fan-out), never a cartesian of real frames."""
    plan = _plan(spark, sf_dir, "daily_user_curves")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_s_curve_reuses_prefix_filter_no_all_pairs(spark, sf_dir,
                                                  monkeypatch):
    """Truth side runs the PPJoin prefix-filtered equi-join; caught
    side is the banded candidate set — no nested-loop anywhere, the
    memo builds of both sides included."""
    plan, build = _plan_and_builds(spark, sf_dir, monkeypatch,
                                   "lsh_s_curve_audit", _AUDIT_MEMOS)
    for p in (plan, build):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_sampled_audit_tiers_filter_before_shingling(spark, sf_dir,
                                                     monkeypatch):
    """VERDICT r7 #2: the sampled tiers must push the deterministic
    hash sample to the document scan side of BOTH pipelines (truth and
    LSH) — the golden-ratio multiplier literal appearing in a Filter
    over the parquet scan, never a post-explode filter — and stay
    equi-join-only like their exact contrast tiers. The shingling runs
    inside the sampled memo builds, so each query rebuilds them and
    their build plans are checked."""
    for name in ("dedup_pr_audit_sampled", "lsh_s_curve_audit_sampled"):
        plan, build = _plan_and_builds(
            spark, sf_dir, monkeypatch, name,
            {"grams_sampled", "minhash_est_sampled",
             "shingle_hash_ex_sampled", "jaccard_pairs_wide_sampled"},
        )
        assert "1327217885" in build, name  # sample predicate present
        for p in (plan, build):
            assert "CartesianProduct" not in p, name
            assert "BatchEvalPython" not in p, name
        # the sub-corpus memos materialize at plan-build time; both
        # consumers must read the pinned frames, not rebuild them
        assert "ExistingRDD" in plan, name


def test_exact_substr_diagonal_islands_no_global_window(spark, sf_dir):
    """ExactSubstr runs as window-text equi-join + partitioned windows
    (occurrence count by span, islands by doc-pair diagonal) — never a
    nested loop, never an unpartitioned ordered window, no Python."""
    plan = _plan(spark, sf_dir, "exact_substr_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # both windows carry a partition spec; no global ordered window
    assert "SinglePartition" not in plan


def test_wilson_broadcast_dim_two_aggs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "segment_conversion_wilson")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_trimmed_mean_single_bucket_exchange(spark, sf_dir):
    """Rank window and both aggregates share the bucket partitioning:
    exactly one hash exchange."""
    plan = _plan(spark, sf_dir, "trimmed_mean_order_value")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_new_repeat_one_customer_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "new_vs_repeat_revenue")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_concentration_windows_on_quarterly_aggregate(spark, sf_dir):
    """Rank windows run over the quarterly customer-spend aggregate,
    never raw orders."""
    plan = _plan(spark, sf_dir, "revenue_concentration_drift")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_growth_accounting_joins_on_user_week_frame(spark, sf_dir):
    """All self-joins run on the deduplicated user-week frame (a
    checkpointed RDD scan), never raw events; no window anywhere."""
    plan = _plan(spark, sf_dir, "weekly_growth_accounting")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # churn = absent next week


def test_kpi_dashboard_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "daily_kpi_dashboard")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_burstiness_one_type_exchange(spark, sf_dir):
    """Lag window and the moment aggregate share the event_type
    partitioning: one hash exchange, no join."""
    plan = _plan(spark, sf_dir, "interarrival_burstiness")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_conversion_curve_broadcast_grid(spark, sf_dir):
    """The 15-row day grid broadcasts against the per-user latency
    frame; firsts are combinable min aggregates."""
    plan = _plan(spark, sf_dir, "signup_conversion_curve")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mix_temperature_dimension_sized(spark, sf_dir):
    """One lang aggregate; totals broadcast; the apportionment window
    runs over the <=|langs| frame."""
    plan = _plan(spark, sf_dir, "training_mix_temperature")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_padding_audit_two_level_ranking(spark, sf_dir):
    """Both policy batchings use the range-partitioned two-level
    ranking — no single-partition global sort of the corpus."""
    plan = _plan(spark, sf_dir, "padding_waste_audit")
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_vocab_growth_two_level_ranking_no_corpus_window(spark, sf_dir):
    """Checkpoints come from the range-partitioned ranking + integer
    ntile law — the oracle's global ntile() would be a
    single-partition corpus window."""
    plan = _plan(spark, sf_dir, "vocab_growth_curve")
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_simpson_exact_decimal_signs(spark, sf_dir):
    """One fact join, two combinable aggregates over a checkpointed
    brand frame; no Python, no window."""
    plan = _plan(spark, sf_dir, "simpson_paradox_audit")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ltv_triangle_windows_on_bounded_frame(spark, sf_dir):
    """The cumulative window runs over the cohorts x offsets triangle;
    cohort sizes broadcast."""
    plan = _plan(spark, sf_dir, "cohort_ltv_triangle")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_yoy_single_month_aggregate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "monthly_revenue_yoy")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_contract_audit_conditional_counts_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "data_contract_audit")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_checksum_diff_bucket_join_only(spark, sf_dir):
    """Two 1024-group combinable aggregates + a 1024-row join."""
    plan = _plan(spark, sf_dir, "checksum_diff_buckets")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_uvi_part_quarter_aggregate_then_base_join(spark, sf_dir):
    """One (part, quarter) decimal aggregate (checkpointed, read by
    both sides) + a part-keyed base join + a quarter rollup."""
    plan = _plan(spark, sf_dir, "unit_value_index")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_eta2_combinable_moments_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_weekday_eta2")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corr_matrix_one_region_aggregate(spark, sf_dir):
    """Two broadcast dim joins + ONE region-keyed combinable aggregate;
    per-region state is ten moments, no window."""
    plan = _plan(spark, sf_dir, "region_metric_correlations")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ps_api_compiles_to_native_aggregate(spark, sf_dir):
    """The pandas-on-Spark groupby compiles to Catalyst hash
    aggregates — no Python evaluation anywhere in the plan."""
    plan = _plan(spark, sf_dir, "ps_orders_profile")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_error_burst_single_user_exchange(spark, sf_dir):
    """Both run rankings and the run aggregate share the user_id
    exchange (the (user, flag) window is a refinement)."""
    plan = _plan(spark, sf_dir, "error_burst_runs")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_personal_outliers_one_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "personal_spend_outliers")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_topk_stability_dimension_sized_joins(spark, sf_dir):
    """The churn@k overlap join (merged into part_weekly_movers, round
    11) runs between k-row-per-week frames from the checkpointed top-k
    table; only the (week, part) aggregate is fact-shaped."""
    plan = _plan(spark, sf_dir, "part_weekly_movers")
    assert "CartesianProduct" not in plan


def test_emerging_terms_takeordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "emerging_terms")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_cms_exact_exchange_reused(spark, sf_dir):
    """round 15 (VERDICT r14 #4): heavy_hitters_cms's single-corpus-pass
    claim relies on runtime exchange reuse — the CMS branch and the
    candidate branch share the (term, exact_cnt) aggregate's exchange.
    Pin it: after execution, the final adaptive plan must contain a
    ReusedExchange and only ONE Generate (tokenize explode). If a
    Spark upgrade or AQE config stops deduplicating the exchange, this
    fails loudly instead of silently doubling the corpus pass."""
    df = _QUERIES["heavy_hitters_cms"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    # one corpus pass: the final plan reads documents.parquet exactly
    # once — the second branch consumes the ReusedExchange instead
    assert final.count("Scan parquet") == 1
