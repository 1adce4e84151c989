"""Pure-logic tests for bench.py's contention-window bookkeeping.

No SparkSession: these pin the window→name mapping that the in-run
self-heal relies on. Getting an interval boundary wrong
silently re-runs the wrong queries (or none), so the mapping is
pinned here exactly like a plan invariant.
"""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

ORDER = [f"q{c}" for c in "abcdefghijklmnop"]  # 16 names, sorted


def test_hot_window_maps_lexicographic_interval():
    # probes every 5; hot probe at position 5 → window [0, 10) by name
    probes = {"0": 0.5, "5": 3.0, "10": 0.6, "15": 0.5}
    probe_names = {"0": "qa", "5": "qf", "10": "qk", "15": "qp"}
    hot = bench._hot_window_names(probes, probe_names, ORDER, 5)
    assert hot == set(ORDER[0:10])  # qa..qj: [probe@0's name, probe@10's name)


def test_hot_final_probe_window_reaches_list_end():
    probes = {"0": 0.5, "5": 0.6, "10": 0.6, "16": 9.9}
    probe_names = {"0": "qa", "5": "qf", "10": "qk", "16": "￿"}
    hot = bench._hot_window_names(probes, probe_names, ORDER, 5)
    # window [11, 21) → names from probe@11 (missing → from probe@16's
    # predecessor... the recorded lower bound is probe_names[16-5=11],
    # absent → "" → conservatively the whole list
    assert hot == set(ORDER)


def test_hot_window_subset_rerun_maps_onto_subset():
    # a heal pass over 4 names with one hot probe flags only that window
    retry = ["qb", "qd", "qf", "qh"]
    probes = {"0": 2.9, "4": 0.5}
    probe_names = {"0": "qb", "4": "￿"}
    hot = bench._hot_window_names(probes, probe_names, retry, 4)
    assert hot == set(retry)
    clean = bench._hot_window_names({"0": 0.5, "4": 0.5}, probe_names, retry, 4)
    assert clean == set()


def test_compact_summary_fits_tail_capture_worst_case():
    """VERDICT r7 #1: the stdout line must be a complete JSON object
    inside any ~2000-char tail capture, even for a large registry with
    long names, a contention warning, still-hot samples and the family
    rollup — and must keep the driver-contract fields."""
    import json

    queries = {f"a_very_long_query_name_number_{i:04d}": i * 0.017
               for i in range(1000)}
    # env-supplied strings at their worst too: a ~2 KB full-record
    # path and an sf that fell back to a whole directory path
    full_path = "/x/" + "deep_dir/" * 220 + "BENCH_full.json"
    out = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "sf": "/y/" + "testdata_dir/" * 40 + "parquet",
        "queries": queries,
        "sentinel_probes": {str(i * 10): 0.6 for i in range(100)},
        "still_hot": sorted(queries)[:300],
        "errors": {"qe": "Boom"},
        "contention_warning": "sentinel queries exceeded idle-box "
        "bounds (section_rank_topk=42.5s; 300 queries never measured "
        "in a clean window); host was likely CPU-throttled",
        "families": {f"family_{i:02d}": i * 1.7 for i in range(30)},
    }
    line = json.dumps(
        bench._compact_summary(out, full_path),
        separators=(",", ":"),
    )
    assert len(line) <= 1500
    parsed = json.loads(line)
    for field in ("metric", "value", "unit", "sf", "queries",
                  "n_queries", "full_record", "still_hot_n"):
        assert field in parsed, field
    assert parsed["n_queries"] == 1000
    # top of the queries map is the slowest query
    if parsed["queries"]:
        worst = max(queries, key=queries.get)
        assert worst in parsed["queries"]

def test_prebuild_failure_logged_and_surfaced(monkeypatch, caplog):
    """ADVICE r12 #2: a touch that raises is logged (name, type,
    message) and reported via the failures list — not silently
    swallowed into a smaller prebuilt count."""
    import logging

    from data_pipeline_playground_spark import memo_prebuild

    def _boom(spark, sf_dir):
        raise ValueError("synthetic builder failure")

    monkeypatch.setattr(
        memo_prebuild, "touch_fns",
        lambda: {"ok_memo": lambda s, d: None, "broken_memo": _boom},
    )
    failures: list = []
    with caplog.at_level(logging.WARNING,
                         logger="data_pipeline_playground_spark.memo_prebuild"):
        prebuilt = memo_prebuild.prebuild_all(None, "/nonexistent", failures)
    assert prebuilt == ["ok_memo"]
    assert failures == ["broken_memo"]
    assert any(
        "broken_memo" in r.message and "ValueError" in r.message
        and "synthetic builder failure" in r.message
        for r in caplog.records
    )


def test_union_seconds_concurrent_overlap_not_double_counted():
    """ADVICE r11 #2: two builds overlapping in concurrent driver
    threads subtract their interval UNION, not the sum of their
    exclusive seconds."""
    entries = [
        {"name": "a", "kind": "build", "sec": 4.0, "t0": 10.0, "t1": 14.0},
        {"name": "b", "kind": "build", "sec": 4.0, "t0": 12.0, "t1": 16.0},
    ]
    # union [10,16] = 6, not 8
    assert abs(bench._union_seconds(entries, 9.0, 20.0) - 6.0) < 1e-9


def test_union_seconds_nested_build_counted_once():
    """A child build's interval lies inside its parent's — the union
    counts the span once (the ledger's exclusive 'sec' split is for
    per-name attribution only)."""
    entries = [
        {"name": "parent", "kind": "build", "sec": 3.0, "t0": 0.0, "t1": 5.0},
        {"name": "child", "kind": "build", "sec": 2.0, "t0": 1.0, "t1": 3.0},
    ]
    assert abs(bench._union_seconds(entries, 0.0, 10.0) - 5.0) < 1e-9


def test_union_seconds_clipped_to_query_window():
    """Intervals are clipped to the query window and the result can
    never exceed elapsed — the over-subtraction clamp is structural,
    not a max(0.001, ...) fig leaf."""
    entries = [
        {"name": "a", "kind": "build", "sec": 9.0, "t0": 0.0, "t1": 9.0},
    ]
    assert abs(bench._union_seconds(entries, 5.0, 8.0) - 3.0) < 1e-9


def test_compact_summary_memo_entries_counted_separately():
    """memo_build:* line items stay visible in the top-slowest table
    but n_queries / median / p90 describe real queries only."""
    import json

    queries = {f"q{i:03d}": 0.5 for i in range(99)}
    queries["memo_build:minhash_est"] = 9.9
    out = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "sf": 0.1,
        "queries": queries,
        "sentinel_probes": {},
    }
    parsed = json.loads(json.dumps(
        bench._compact_summary(out, "/root/repo/BENCH_full_latest.json"),
        separators=(",", ":"),
    ))
    assert parsed["n_queries"] == 99
    assert parsed["memo_build_n"] == 1
    assert parsed["memo_build_s"] == 9.9
    assert parsed["median_s"] == 0.5 and parsed["p90_s"] == 0.5
    assert "memo_build:minhash_est" in parsed["queries"]  # slowest item


def test_compact_summary_truncates_huge_env_paths():
    """VERDICT r9 #7 / ADVICE r9 #3: env-supplied strings — a 2 KB
    SPARK_GRAFT_BENCH_OUT path AND an sf that fell back to the whole
    $SPARK_GRAFT_SF_DIR (no 'sf' marker in the path) — must still
    produce one <=1500-byte stdout line."""
    import json

    huge_path = "/x/" + "deep_dir/" * 220 + "BENCH_full.json"  # ~2 KB
    out = {
        "metric": "total_query_wall_seconds", "value": 1.0,
        "unit": "sec", "sf": "/y/" + "testdata_dir/" * 160 + "parquet",
        "queries": {f"q{i}": 0.1 for i in range(50)},
        "sentinel_probes": {},
    }
    line = json.dumps(bench._compact_summary(out, huge_path),
                      separators=(",", ":"))
    assert len(line) <= 1500
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_seconds"


def test_compact_summary_numeric_sf_never_shrunk():
    """The sf shrink path only applies to str-typed fallback values —
    a numeric sf must pass through untouched even under budget stress."""
    import json

    out = {
        "metric": "total_query_wall_seconds", "value": 1.0,
        "unit": "sec", "sf": 0.1,
        "queries": {f"q{i}": 0.1 for i in range(50)},
        "sentinel_probes": {},
    }
    parsed = bench._compact_summary(out, "/x/" + "d/" * 900 + "f.json")
    assert parsed["sf"] == 0.1
    assert len(json.dumps(parsed, separators=(",", ":"))) <= 1500


def test_prebuild_serial_order_lightest_first(monkeypatch):
    """Round 14 (VERDICT r13 #3): the prebuild runs builds serially,
    lightest-first by the solo-weight table — booked exclusive seconds
    then approach the solo floor on any box, and cheap builds warm
    shared scans before heavy ones."""
    from data_pipeline_playground_spark import memo_prebuild

    order: list[str] = []

    def touch(name):
        def fn(spark, sf_dir):
            order.append(name)

        return fn

    monkeypatch.setattr(
        memo_prebuild, "touch_fns",
        lambda: {n: touch(n) for n in ("heavy", "light", "mid")},
    )
    monkeypatch.setattr(
        memo_prebuild, "_SOLO_WEIGHTS",
        {"heavy": 10.0, "light": 0.5, "mid": 3.0},
    )
    prebuilt = memo_prebuild.prebuild_all(None, "/nonexistent")
    assert order == ["light", "mid", "heavy"]
    assert prebuilt == ["heavy", "light", "mid"]  # names, sorted


def test_bench_records_lsh_planes_mode():
    """ADVICE r13 #2: the effective LSH plane configuration is a
    recorded bench field (configuration provenance: it changes what
    the similarity family computes); with no env pin the mode is
    'derived'."""
    import os

    from data_pipeline_playground_spark.queries import similarity

    if os.environ.get("SPARK_GRAFT_LSH_PLANES"):
        assert similarity.N_PLANES is not None
    else:
        assert similarity.N_PLANES is None
    mode = (
        f"pinned:{similarity.N_PLANES}"
        if similarity.N_PLANES is not None else "derived"
    )
    assert mode == "derived" or mode.startswith("pinned:")


def test_plan_audit_global_window_detector():
    """Round 14 (VERDICT r13 #2): the GLOBALWIN heuristic fires on
    windowspecdefinition() text with no leading partition columns and
    stays quiet on partitioned specs."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        pathlib.Path(__file__).parent.parent / "scripts" / "plan_audit.py",
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    partitioned = (
        "Window [row_number() windowspecdefinition(brand#12, price#3 ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9]"
    )
    global_ordered = (
        "Window [row_number() windowspecdefinition(price#3 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9]"
    )
    global_unordered = (
        "Window [sum(x#1) windowspecdefinition(specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS s#2]"
    )
    assert pa._global_windows(partitioned) == 0
    assert pa._global_windows(global_ordered) == 1
    assert pa._global_windows(global_unordered) == 1
    assert pa._global_windows(partitioned + global_ordered) == 1



def test_failures_recorded_as_type_and_message(capsys):
    """Warm-up and timed-run exceptions land in their full-record map
    (``warmup_failed`` / ``errors``) as "Type: message", capped at 200
    chars, and are echoed to stderr only: the compact stdout line is
    unchanged."""
    failed: dict = {}
    bench._note_failure(failed, "q_bad", ValueError("no tables under /x"))
    bench._note_failure(failed, "probe:q_long", RuntimeError("x" * 500))
    assert failed["q_bad"] == "ValueError: no tables under /x"
    assert failed["probe:q_long"] == ("RuntimeError: " + "x" * 500)[:200]
    out = capsys.readouterr()
    assert out.out == ""
    assert "BENCH ERROR q_bad: ValueError: no tables under /x" in out.err
