"""Regenerate PLANS.md: formatted physical plans for flagship queries.

    python scripts/dump_plans.py [--sf-dir /root/testdata/sf0.01]

One section per query: what to look for in the plan (pushdown line,
broadcast exchange, TakeOrderedAndProject, ...) followed by the actual
`.explain("formatted")` output, so plan-quality claims in SCALE.md are
checkable against committed evidence. Memo builders pin with
``localCheckpoint``, so a memo consumer's plan shows only the
checkpoint scan; the plan of every frame pinned while a query's plan
is built (the memos it is the first to touch) follows that query's
plan.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, what the plan must show)
SHOWCASE = [
    ("pricing_summary", "date predicate reaches the parquet scan "
     "(PushedFilters on l_shipdate); single hash aggregate exchange "
     "with a partial aggregate below it."),
    ("top_revenue_parts", "part is a BroadcastHashJoin build side; the "
     "lineitem scan's ReadSchema carries only the 3 needed columns; "
     "top-k is TakeOrderedAndProject."),
    ("dedup_minhash_pairs", "LSH candidates come from an equi-join on "
     "(band, bkey) — broadcast at small scale, a SortMergeJoin/"
     "ShuffledHashJoin on band keys at scale, never a cartesian: "
     "shuffle size tracks candidates, not n². The "
     "join runs in the minhash_est memo build (its pinned frames "
     "follow); the query itself is a filter over the checkpoint scan."),
    ("bm25_topk", "token stream filtered to query terms BEFORE the "
     "(doc,term) aggregate; df + corpus stats broadcast; final rank is "
     "TakeOrderedAndProject — no global sort, no window."),
    ("events_mad_outliers", "per-type median/MAD rows return as "
     "BroadcastHashJoins onto the fact — the fact shuffles only for "
     "the two grouped percentiles."),
    ("salted_user_totals", "two-stage skew-safe aggregate: the salted "
     "pre-aggregate's exchange carries (user_id, salt), the final "
     "merge exchange carries user_id — hot keys split 16 ways."),
    ("market_share", "Q8 shape: the customer-region prune and the "
     "supplier-nation enrich are BroadcastHashJoins; the only wide "
     "shuffle is lineitem⋈orders + the single conditional aggregate."),
    ("user_value_trend", "the five regression sufficient statistics "
     "partial-aggregate map-side (partial_sum of exact decimals below "
     "one user_id exchange); the slope/intercept/R² math is a final "
     "narrow Project — no window, no join."),
    ("purchases_asof_click", "as-of join with NO join operator: union "
     "of both event kinds into one user_id Window pass "
     "(last ignorenulls carry-forward); at most two hash exchanges."),
    ("funnel_first_chain", "three chained Window stages + the final "
     "aggregate all share ONE user_id exchange; zero joins for a "
     "three-step sequence match."),
    ("customer_spend_quartiles_ranked", "exact ntile without a "
     "global-order window: RangePartitioning exchange, per-bucket "
     "row_number, broadcast offsets join — no single-partition sort "
     "of the customer frame."),
    ("events_time_rollup", "native ROLLUP: one parquet scan into one "
     "Expand, partial aggregation below a single hash exchange — "
     "grains cost row copies, not rescans."),
    ("purchases_pit_state", "point-in-time SCD2 lookup with NO join "
     "operator: state changes and probes union into user_id Window "
     "passes (the oracle's interval join would be per-key quadratic); "
     "at most two hash exchanges."),
    ("bpe_encode", "tokenizer APPLY: top-K merge ranking is "
     "TakeOrderedAndProject (never a global sort); the merge table "
     "collapses to a one-row array fanned out by a broadcast "
     "(BNLJ with a 1-row build side is the intended shape); the "
     "K-rule rewrite fold is a JVM higher-order aggregate — no "
     "Python stage anywhere."),
    ("hybrid_rrf_topk", "RRF hybrid retrieval fusion: each ranker "
     "ends in TakeOrderedAndProject(limit=50) (per-partition heap, "
     "no rangepartitioning sort); the rank windows sit ABOVE those "
     "50-row heaps; the fusion is one full outer SortMergeJoin of "
     "two <=50-row frames plus a third TakeOrderedAndProject — "
     "constant-cost fusion at any corpus size, no Python stage."),
    ("ann_recall_certificate", "four deterministic top-k tiers "
     "composed: every candidate join is a BroadcastHashJoin of the "
     "fixed query set (exact tier) or an equi-join on bucket/cell "
     "(approx tiers, incl. the multi-probe query-side fan-out); hit "
     "counting is three broadcast left joins + one hash aggregate — "
     "no cartesian, no Python."),
    ("events_cusum_drift", "a sequential changepoint statistic with "
     "NO sequential stage: the recurrence's closed form is three "
     "stacked Windows (per-user totals, ordered cumsum, prefix-min) "
     "all partitioned by user_id — exactly ONE hash exchange in the "
     "whole plan, no join, no Python."),
    ("winnow_fingerprints", "MOSS winnowing with ZERO exchanges: "
     "tokenize → hash → window-select entirely inside array "
     "higher-order functions (lambda-bound via once() so Catalyst "
     "cannot re-inline the hash chain per reference); the only "
     "operators above the scan are Project/Filter/Generate."),
    ("embedding_top_pc", "power-iteration PCA as ONE single-pass "
     "45-column moment aggregate (partial map-side combine) + scalar "
     "expression work on the 1-row result; inline() emits the 8 "
     "output rows from a single FileScan — no join, no Python, no "
     "second scan."),
    ("value_ks_drift", "an exact Kolmogorov-Smirnov statistic whose "
     "oracle needs a global cumulative window — computed window-free "
     "via three two-level rankings (rangepartitioning + per-bucket "
     "row_number + broadcast offsets); no unpartitioned window over "
     "the value key anywhere in the plan."),
    ("kcore_parts", "6 unrolled peel rounds, each exactly two Window "
     "passes over the previous round's (shrinking) edges — a LINEAR "
     "operator chain over one checkpointed pair list (Scan "
     "ExistingRDD), no join after the pair build, no 2^N reference "
     "blow-up."),
    ("attribution_ushape", "the hour-window touch lookup is a "
     "bucketed EQUI join (purchases probe 2 floor-epoch buckets, the "
     "interval predicate is a residual filter — no nested loop); "
     "touchless purchases return via LeftAnti; rank + integer credit "
     "math is pure JVM above one event_id window."),
    ("table_checksum", "per table: a 1024-group hash aggregate whose "
     "partials combine map-side (the exchange carries 1024 rows) + a "
     "one-row fold — an order-free fingerprint with no join, window, "
     "or Python anywhere."),
    ("fk_integrity_audit", "every child pre-aggregates to distinct "
     "FK keys BELOW its join (exchanges carry keys, not rows); six "
     "dimension parents are BroadcastHashJoins, lineitem→orders "
     "stays a co-partitioned key join."),
    ("daily_user_curves", "sliding COUNT(DISTINCT) with no "
     "window: a Generate (7-day forward fan-out) over the DISTINCT "
     "user-day frame, then one distinct-aggregate per day — fan-out "
     "factor = window length, independent of volume."),
    ("exact_substr_spans", "suffix-array-free ExactSubstr: window "
     "texts equi-join (SortMergeJoin, heavy-hitter capped), then ONE "
     "gaps-and-islands window partitioned by (doc_a, doc_b, "
     "diagonal) — maximality with no recursion, no SinglePartition, "
     "no Python."),
    ("lsh_s_curve_audit_sampled", "the production audit tier: the "
     "golden-ratio sample predicate sits in the Filter directly over "
     "BOTH document scans (truth and LSH sides) of the sampled memo "
     "builds (their pinned frames follow), so every downstream stage "
     "— shingles, signatures, PPJoin truth — runs on the sub-corpus; "
     "joins stay equi, windows stay partitioned."),
]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = p.parse_args()

    from data_pipeline_playground_spark.registry import all_queries
    from data_pipeline_playground_spark.session import get_spark

    spark = get_spark("dpp-dump-plans")
    queries = all_queries()

    out = [
        "# PLANS.md — flagship physical plans (generated)",
        "",
        f"Regenerate with `python scripts/dump_plans.py` (sf dir: "
        f"`{args.sf_dir}`). Each section states the property the plan",
        "must exhibit, then shows the actual `.explain(\"formatted\")`",
        "output; tests/test_plans.py asserts the same properties in CI.",
        "",
    ]

    def formatted(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).rstrip()

    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    pin = frame_cls.localCheckpoint
    pinned: list[str] = []

    def recording_pin(self, *args, **kwargs):
        pinned.append(formatted(self))
        return pin(self, *args, **kwargs)

    frame_cls.localCheckpoint = recording_pin
    try:
        for name, claim in SHOWCASE:
            pinned.clear()
            plan = formatted(queries[name](spark, args.sf_dir))
            out += [f"## {name}", "", claim, "", "```", plan, "```", ""]
            for i, build in enumerate(pinned, 1):
                out += [f"### {name}: pinned frame {i} of {len(pinned)}",
                        "", "```", build, "```", ""]
    finally:
        frame_cls.localCheckpoint = pin

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
