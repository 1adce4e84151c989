"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Stdout contract (VERDICT r7 #1): stdout carries EXACTLY ONE compact
self-contained JSON line, guaranteed <= 1500 bytes, so any
length-bounded tail capture (the driver keeps ~2000 chars) still
contains one complete parseable object:
{"metric": "total_query_wall_seconds", "value": <total_sec>,
 "unit": "sec", "sf": <sf>, "n_queries": N,
 "queries": {top-slowest name: sec, ...}, "queries_elided": M,
 "full_record": <path>, "median_s": .., "p90_s": ..,
 "probes": {"n":..,"max":..,"hot":..}, "still_hot_n": ..,
 ["contention_warning": "..."]}

The FULL record (every per-query timing, probe map, heal log,
provenance) is written as one JSON line to $SPARK_GRAFT_BENCH_OUT
(default <repo>/BENCH_full_latest.json) — the prior rounds' stdout
full-record line exceeded the driver's tail capture, leaving two
consecutive unparseable bench artifacts (BENCH_r06/BENCH_r07).

Each query is timed end-to-end (plan + execute + collect-to-count).
A warmup pass on sf0.001 primes the JVM/codegen so timings reflect
steady-state execution, not first-query JIT.

Contention handling (the host is CPU burst-credit limited; throttle
transients of a few minutes were observed mid-run in r5/r6):
- a known-subsecond sentinel query is probed every _PROBE_EVERY
  queries; a hot probe marks the surrounding window's timings
  untrustworthy;
- IN-RUN SELF-HEAL (round 6): after the sweep, queries inside hot
  windows are automatically re-run (up to SPARK_GRAFT_BENCH_HEAL_ROUNDS
  rounds, default 2, after a SPARK_GRAFT_BENCH_HEAL_COOLDOWN idle
  pause) and each query keeps its MINIMUM observed timing — under
  one-sided contention noise the minimum is the closest estimate of
  true cost. Only queries that never saw a clean window end up in
  "contention_warning"/"still_hot".

Memo attribution (VERDICT r10 #1): session-shared memo artifacts
(caching.py) made per-query numbers ORDER-DEPENDENT — whichever query
first touched the shared MinHash memo paid its build (driver booked
corpus_funnel at 14.35 s where the memo-exclusive cost is ~6 s).
caching.memo times every build into a drainable ledger; the bench
drains it after each timed query, SUBTRACTS the memo seconds from
that query's wall time, and books builds to visible
"memo_build:<name>" pseudo-entries in the queries map (they count
toward "value"). Memo pins are localCheckpoints, which the bench's
between-query clearCache does not drop, so each memo is paid once —
as in a real long-lived session.

Round-12 refinements:
- PREBUILD (VERDICT r11 #3): memo_prebuild.py is now a static registry
  of every memo's builder, so all memos are built SERIALLY in a
  charged setup step before the timed loop (still booked to their
  "memo_build:<name>" line items). Per-query numbers are unchanged by
  construction (builds were already subtracted); what changes is that
  builds no longer serialize inside the timed loop on first touch,
  where driver-phase box contention inflated them (r11 booked
  memo_build:minhash_est at 22.1 s vs 3.4 s clean). The ledger
  subtraction stays for any memo whose prebuild failed and so builds
  on first touch.
- OVERLAP-SAFE SUBTRACTION (ADVICE r11 #2): memos build in
  concurrent driver threads (the sampled-audit pred/truth overlap), so
  summing the ledger's per-thread exclusive seconds can exceed the
  wall-clock the memos actually occupied; the per-query subtraction now
  uses the UNION of the ledger entries' [t0, t1] intervals clipped to
  the query window (never more than elapsed). Per-name line items keep
  exclusive seconds (they measure work, and concurrent builds each did
  their own work); when their sum exceeds the union the overflow is
  surfaced as "memo_overlap_s" instead of silently double-booking.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_PROBE_Q = "section_rank_topk"
# every 10 (was 25 through r5/r6a): a ~3-minute throttle transient can
# start and decay entirely inside a 25-query window — observed in the
# r6 self-heal run, where probes at 0/25 read 1.7 s/0.68 s yet queries
# between them measured up to 6× their isolated re-measures. ~18 extra
# sub-second probes per full sweep is cheap localization.
_PROBE_EVERY = 10
# 1.5, not 2.0: r6a showed MILD throttling (probes 1.0-1.3 s vs the
# 0.5-0.7 s idle floor) inflating heavy queries 2-3× while staying
# under the old threshold. The probe is warmed once at sf0.1 before
# the loop so position-0 JIT/plan-compile noise can't false-trip.
_PROBE_HOT = 1.5
_SENTINELS = {"section_rank_topk": 2.0, "project_clean": 2.0}


def _hot_window_names(probes: dict[str, float], probe_names: dict[str, str],
                      order: list[str], spacing: int) -> set[str]:
    """Names inside hot probe windows, mapped LEXICOGRAPHICALLY.

    A hot probe at position P (probes fire BEFORE the query at index P)
    contaminates [P - spacing, P + spacing): throttling developed
    somewhere in the preceding window and persists into the following
    one until a clean probe. Positions index the pass's own sorted
    name list, but because that list is sorted, the window maps onto
    ANY name list as the lexicographic interval between the adjacent
    probes' recorded names — so a heal pass over a subset can't shift
    the mapping."""
    names: set[str] = set()
    for pos_s, v in probes.items():
        if v > _PROBE_HOT:
            p = int(pos_s)
            lo = probe_names.get(str(p - spacing), "")
            hi = probe_names.get(str(p + spacing), "\uffff")
            names.update(q for q in order if lo <= q < hi)
    return names


def _union_seconds(entries: list[dict], lo: float, hi: float) -> float:
    """Total length of the union of the entries' [t0, t1] intervals,
    clipped to [lo, hi] — the wall-clock a query actually spent inside
    memo builds, immune to concurrent-thread double-counting
    (ADVICE r11 #2)."""
    ivs = sorted(
        (max(e["t0"], lo), min(e["t1"], hi))
        for e in entries
        if min(e["t1"], hi) > max(e["t0"], lo)
    )
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return min(total, hi - lo)


def _note_failure(failed: dict[str, str], name: str, exc: Exception) -> None:
    """Record ``name``'s exception in ``failed`` as "Type: message"
    (capped at 200 chars) and echo it to stderr; stdout stays reserved
    for the compact JSON line."""
    failed[name] = f"{type(exc).__name__}: {exc}"[:200]
    print(f"BENCH ERROR {name}: {failed[name]}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    heal_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_HEAL_ROUNDS", "2"))
    heal_cooldown = float(os.environ.get("SPARK_GRAFT_BENCH_HEAL_COOLDOWN", "60"))

    from data_pipeline_playground_spark.queries.ml import (
        BISECTING_MAX_ITER,
        KMEANS_MAX_ITER,
        LDA_MAX_ITER,
        PIC_MAX_ITER,
    )
    from data_pipeline_playground_spark import caching, memo_prebuild
    from data_pipeline_playground_spark.registry import all_queries
    from data_pipeline_playground_spark.session import get_spark

    spark = get_spark("dpp-spark-bench")
    queries = all_queries()

    # memo attribution accumulators (module docstring, VERDICT r10 #1):
    # builds become "memo_build:<name>" line items in the queries map
    memo_build: dict[str, float] = {}
    # wall seconds by which concurrent builds' exclusive sums exceeded
    # their interval union — surfaced, never double-subtracted
    memo_overlap = [0.0]

    def _book_ledger(entries: list[dict]) -> None:
        for e in entries:
            k = f"memo_build:{e['name']}"
            memo_build[k] = memo_build.get(k, 0.0) + e["sec"]

    # Configuration provenance: $SPARK_GRAFT_EXTRA_CONFS (session-wide
    # Spark config), so a record states the configuration it measured.
    extra_confs = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")

    # Warmup at the smallest SF: JIT, codegen cache, parquet footers.
    warmup_failed: dict[str, str] = {}
    for name in sorted(queries):
        try:
            queries[name](spark, "/root/testdata/sf0.001").count()
        except Exception as exc:
            _note_failure(warmup_failed, name, exc)

    def run_pass(names: list[str]):
        """One timed sweep over ``names`` with interleaved contention
        probes. A single end-of-run sentinel can miss MID-RUN
        burst-credit throttling (observed: the b..p alphabetical block
        at 4-14× with clean s..z timings) — probing throughout
        localizes which stretch of the run is trustworthy."""
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        probes: dict[str, float] = {}
        probe_names: dict[str, str] = {}

        def probe(position: int) -> None:
            if _PROBE_Q not in queries:
                return
            # the query ABOUT TO RUN at this position — lets the heal
            # map probe windows onto any name list. end-of-run marker
            # sorts AFTER every real name so a hot final probe's window
            # reaches the end of the list
            probe_names[str(position)] = (
                names[position] if position < len(names) else "\uffff"
            )
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                queries[_PROBE_Q](spark, sf_dir).count()
                probes[str(position)] = round(time.perf_counter() - t0, 3)
            except Exception:
                pass

        for q_idx, name in enumerate(names):
            if q_idx % _PROBE_EVERY == 0:
                probe(q_idx)
            # Drop any cached data left by the previous query so each
            # timing is independent of run order (memo pins are
            # localCheckpoints and survive this). The ledger drain below
            # strips any first-touch memo build back OUT of the query's
            # number, so run order neither subsidizes nor penalizes a
            # timing (VERDICT r10 #1).
            spark.catalog.clearCache()
            caching.drain_ledger()  # discard stray entries (warmup/probes)
            start = time.perf_counter()
            try:
                queries[name](spark, sf_dir).count()
                end = time.perf_counter()
                elapsed = end - start
                entries = caching.drain_ledger()
                # subtract the UNION of memo intervals clipped to the
                # query window — never more than elapsed, immune to
                # concurrent-build double-counting (ADVICE r11 #2)
                memo_sec = _union_seconds(entries, start, end)
                excl_sum = sum(e["sec"] for e in entries)
                if excl_sum - memo_sec > 1e-3:
                    memo_overlap[0] += excl_sum - memo_sec
                _book_ledger(entries)
                timings[name] = round(max(0.001, elapsed - memo_sec), 3)
            except Exception as exc:  # one bad query must not sink the bench
                _note_failure(errors, name, exc)

        probe(len(names))  # final checkpoint
        return timings, errors, probes, probe_names

    # PREBUILD (VERDICT r11 #3): construct every registered memo for
    # the bench sf serially BEFORE the timed loop, charged to the same
    # memo_build:<name> line items reactive builds used — builds no
    # longer run inside the timed loop on first touch.
    caching.drain_ledger()  # discard warmup strays (sf0.001 keys)
    prebuild_failed: list[str] = []
    prebuilt = memo_prebuild.prebuild_all(spark, sf_dir, prebuild_failed)
    _book_ledger(caching.drain_ledger())

    # warm the probe query once at the bench SF (unrecorded): the first
    # sf0.1 execution pays plan compile + codegen, which would read as
    # a hot probe@0 on a clean box
    if _PROBE_Q in queries:
        try:
            queries[_PROBE_Q](spark, sf_dir).count()
        except Exception as exc:
            _note_failure(warmup_failed, f"probe:{_PROBE_Q}", exc)

    timings, errors, probes, probe_names = run_pass(sorted(queries))
    hot = _hot_window_names(probes, probe_names, sorted(timings), _PROBE_EVERY)
    # a tripped sentinel's own timing is untrusted too — heal it
    hot.update(
        q for q, lim in _SENTINELS.items() if timings.get(q, 0.0) > lim
    )

    # In-run heal: re-measure the untrusted window(s) after an idle
    # cooldown; keep each query's MINIMUM (contention noise is
    # one-sided). Repeat until every query has at least one
    # clean-window measurement or the round budget runs out.
    heal_log: list[dict] = []
    for _ in range(heal_rounds):
        if not hot:
            break
        time.sleep(heal_cooldown)
        retry = sorted(hot)
        r_tim, r_err, r_probes, r_pnames = run_pass(retry)
        for name, t in r_tim.items():
            timings[name] = min(timings.get(name, float("inf")), t)
            errors.pop(name, None)
        still = _hot_window_names(r_probes, r_pnames, retry, _PROBE_EVERY)
        still.update(
            q for q, lim in _SENTINELS.items() if r_tim.get(q, 0.0) > lim
        )
        heal_log.append({
            "rerun": len(retry),
            "probes": r_probes,
            "still_hot": sorted(still),
        })
        hot = still

    # book this run's memo builds as line items
    for k, v in memo_build.items():
        timings[k] = round(v, 3)

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in sorted(timings)},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # fidelity knobs that change compute, recorded so round totals
        # stay attributable to engine changes (ADVICE r5 #2)
        "ml_iterations": {
            "kmeans_max_iter": KMEANS_MAX_ITER,
            "lda_max_iter": LDA_MAX_ITER,
            "bisecting_max_iter": BISECTING_MAX_ITER,
            "pic_max_iter": PIC_MAX_ITER,
        },
    }
    if errors:
        out["errors"] = errors
    if memo_overlap[0] > 0.05:
        # concurrent builds' exclusive-second sum exceeded their wall
        # union by this much (work done in parallel threads) — visible
        # so the per-name line items' sum stays auditable vs "value"
        out["memo_overlap_s"] = round(memo_overlap[0], 3)
    out["memo_prebuilt_n"] = len(prebuilt)
    if prebuild_failed:
        # ADVICE r12 #2: a failed prebuild reverts that memo to
        # first-touch accounting — name it in the record, next to the
        # count, instead of hiding it inside a smaller memo_prebuilt_n
        out["memo_prebuild_failed"] = prebuild_failed
    if warmup_failed:
        # unrecorded warm-up runs that raised: a query that cannot even
        # warm up is named here instead of being silently skipped
        out["warmup_failed"] = warmup_failed
    out["extra_confs"] = extra_confs
    out["sentinel_probes"] = probes
    out["probe_names"] = probe_names
    # per-module family rollup of the timings (compact-summary
    # material: round totals attributable at a glance)
    fam: dict[str, float] = {}
    for name, t in timings.items():
        if name.startswith("memo_build:"):
            f = "memo_build"
        else:
            f = queries[name].__module__.rsplit(".", 1)[-1]
        fam[f] = fam.get(f, 0.0) + t
    out["families"] = {k: round(v, 1) for k, v in sorted(fam.items())}
    if heal_log:
        out["heal"] = heal_log
    # Contention verdict AFTER healing: only queries that never saw a
    # clean window (or sentinels still above their idle-box bound in
    # the final healed timings) make the run non-comparable — label it
    # so a throttled bench self-identifies instead of reading as a 10×
    # plan regression. "still_hot" is the exact untrusted set.
    tripped = {
        q: timings[q]
        for q, lim in _SENTINELS.items()
        if timings.get(q, 0.0) > lim
    }
    out["still_hot"] = sorted(hot)
    if tripped or hot:
        parts = [f"{q}={v}s" for q, v in sorted(tripped.items())]
        parts += [f"{len(hot)} queries never measured in a clean window"]
        out["contention_warning"] = (
            "sentinel queries exceeded idle-box bounds "
            f"({', '.join(parts)}); "
            "host was likely CPU-throttled — still_hot timings unreliable"
        )
    # FULL record goes to a file (it is ~15 KB at 288 queries — far
    # beyond any tail-bounded stdout capture); stdout gets ONE compact
    # summary line guaranteed to fit in the capture window.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_full_latest.json"),
    )
    with open(full_path, "w") as fh:
        fh.write(json.dumps(out, separators=(",", ":")) + "\n")

    print(json.dumps(_compact_summary(out, full_path),
                     separators=(",", ":")))


def _compact_summary(out: dict, full_path: str,
                     budget: int = 1500) -> dict:
    """One self-contained stdout object, <= ``budget`` bytes serialized.

    Keeps the driver-contract fields (metric/value/unit/sf/queries) but
    elides the per-query map to the slowest K — trimming K, then the
    still-hot sample, then the warning text until the line fits."""
    timings: dict[str, float] = out["queries"]
    # median/p90/n_queries describe REAL queries; memo_build line items
    # stay in the map (and can appear in the top-slowest table) but are
    # summarized by their own count + total.
    real = [v for k, v in timings.items()
            if not k.startswith("memo_build:")]
    vals = sorted(real)
    n = len(vals)
    memo_n = len(timings) - n
    slowest = sorted(timings, key=timings.get, reverse=True)
    probes = out.get("sentinel_probes", {})
    summary: dict = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": n,
        "queries": {},
        "queries_elided": 0,
        "full_record": full_path,
        "median_s": round(vals[n // 2], 3) if n else 0.0,
        "p90_s": round(vals[(9 * n) // 10], 3) if n else 0.0,
        "probes": {
            "n": len(probes),
            "max": max(probes.values(), default=0.0),
            "hot": sum(1 for v in probes.values() if v > _PROBE_HOT),
        },
        "still_hot_n": len(out.get("still_hot", [])),
        "errors_n": len(out.get("errors", {})),
    }
    if memo_n:
        summary["memo_build_n"] = memo_n
        summary["memo_build_s"] = round(
            sum(v for k, v in timings.items()
                if k.startswith("memo_build:")), 1)
    if out.get("still_hot"):
        summary["still_hot_sample"] = out["still_hot"][:5]
    if out.get("contention_warning"):
        summary["contention_warning"] = out["contention_warning"]
    if out.get("families"):
        summary["families"] = out["families"]

    for top_k in (10, 5, 3, 0):
        summary["queries"] = {q: timings[q] for q in slowest[:top_k]}
        summary["queries_elided"] = max(0, len(timings) - top_k)
        if len(json.dumps(summary, separators=(",", ":"))) <= budget:
            return summary
        summary.pop("still_hot_sample", None)
        summary.pop("families", None)
        if "contention_warning" in summary:
            summary["contention_warning"] = (
                summary["contention_warning"][:117] + "...")
    # last resort: env-supplied strings (full_record is a path
    # embedded verbatim; "sf" falls back to the WHOLE
    # $SPARK_GRAFT_SF_DIR when the path carries no "sf" marker) can
    # push even the top-0 form past the budget — shrink them to
    # basenames, then hard-truncate, so the <=1.5 KB tail-capture
    # contract holds for ANY input. Numeric sf values are never
    # touched (only str-typed entries are shrinkable).
    _shrinkable = ("full_record", "sf")

    def _strkeys():
        return [k for k in _shrinkable if isinstance(summary.get(k), str)
                and summary[k]]

    for key in _strkeys():
        if len(json.dumps(summary, separators=(",", ":"))) <= budget:
            break
        summary[key] = os.path.basename(summary[key])
    while (len(json.dumps(summary, separators=(",", ":"))) > budget
           and _strkeys()):
        longest = max(_strkeys(), key=lambda k: len(summary[k]))
        summary[longest] = summary[longest][:len(summary[longest]) // 2]
        if not summary[longest]:
            del summary[longest]
    return summary


if __name__ == "__main__":
    main()
