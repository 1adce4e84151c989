"""Benchmark of the spark-graft engine, driven through its public functions.

    python3 perfbench/run.py --workload tpch_sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, closed loop:
each op starts when the previous one has returned. Spark runs as
``local[nproc]``; the CPU count, driver heap and local dirs are set from
outside the package through its environment variables. Inputs are
generated from fixed seeds under ``.perfbench/`` (see datagen.py); the
workload seed sets the order of every sweep. Every op's output is
checked after the timed phase.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full record, with every
failure by name, the session sizing and host noise, is written to
``.perfbench/records/`` and summarised on stderr. README.md in this
directory maps each per-layer metric to the end-to-end metric it
should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "data_pipeline_playground_spark"

WORKLOADS = ("tpch_sweep", "dedup_session")
SWEEP_FAMILIES = {
    "tpch_sweep": ("relational", "tpch_extra", "windows"),
    "dedup_session": ("dedup", "dedup_advanced"),
}
# one sweep's wall time on the seed code (4-core box). A run measures
# round(--seconds / this) sweeps, at least one: a fixed amount of work
# that does not depend on how fast the program under test is
SEED_SWEEP_S = {"tpch_sweep": 40.0, "dedup_session": 24.0}
WARMUP_PER_FAMILY = 3
ALL_FAMILIES = tuple(fam for fams in SWEEP_FAMILIES.values() for fam in fams)
DATA_SEED = 42
# tpch_sweep runs at sf0.001 and dedup_session at sf0.01: at these
# scales both are planning- and overhead-bound, and the smaller tables
# keep a tpch_sweep run (one 60-query sweep from a cold JVM) short
SCALES = {"tpch_sweep": 0.001, "dedup_session": 0.01}
EXPECTED_DEDUP = HERE / "expected_dedup.json"


def dedup_memos() -> list[str]:
    """The memos that the dedup_session queries read, in memo_prebuild's
    serial build order (children before parents, then lightest first)."""
    from data_pipeline_playground_spark import memo_prebuild as mp

    fams = {f"{PACKAGE}.queries.{fam}" for fam in SWEEP_FAMILIES["dedup_session"]}
    fns = mp.touch_fns()
    names = [n for n, fn in fns.items() if mp._FP_MODULE_OVERRIDES.get(n, fn.__module__) in fams]
    return mp._serial_order(names, lambda n: mp._SOLO_WEIGHTS.get(n, mp._DEFAULT_WEIGHT))


def source_fingerprint() -> str:
    """Hash of the package, the oracle helpers and this benchmark's code."""
    h = hashlib.sha256()
    files = [*sorted((ROOT / PACKAGE).rglob("*.py")), ROOT / "tests" / "oracle.py",
             *sorted(HERE.glob("*.py"))]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _add_confs(*confs: str) -> None:
    """Append to the package's ``$SPARK_GRAFT_EXTRA_CONFS`` hook."""
    prior = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join([prior, *confs] if prior else confs)


def _sizing(work: Path) -> dict:
    """Size the session to this machine from outside the package: CPUs =
    nproc, driver heap = an eighth of MemTotal (1-4 GiB), committed up
    front so resident memory does not follow the collector's heap
    resizing, and every scratch directory inside ``work``."""
    from procstat import mem_total_mb

    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(4096, mem_total_mb() // 8))
    local, tmp = work / "spark-local", work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (launcher and driver): temp files in ``work``, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    _add_confs(f"spark.driver.extraJavaOptions=-Xms{heap_mb}m",
               f"spark.sql.warehouse.dir={work / 'warehouse'}")
    return {"cpus": cpus, "driver_heap_mb": heap_mb, "local_dirs": str(local),
            "mem_total_mb": mem_total_mb()}


def _enable_event_log(work: Path) -> Path:
    logdir = work / "eventlog"
    logdir.mkdir(parents=True, exist_ok=True)
    _add_confs("spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{logdir}",
               "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false")
    return logdir


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile (0 < p < 1).

    A sweep times a fixed set of different queries, and their latencies
    leave gaps: the plain median of 20 jumps between neighbours from run
    to run. Harrell-Davis weights every order statistic by a Beta((n+1)p,
    (n+1)(1-p)) density, so it moves smoothly instead."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    grid = np.linspace(0.0, 1.0, 20001)
    pdf = grid ** (a - 1) * (1 - grid) ** (b - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


def canonical_hash(pdf) -> str:
    from tests.oracle import _canon_pdf

    payload = json.dumps([sorted(pdf.columns), _canon_pdf(pdf)])
    return hashlib.sha256(payload.encode()).hexdigest()


class Run:
    """State of one benchmark run: session, tracer, ops and failures."""

    def __init__(self, args):
        self.args = args
        self.failures: list[dict] = []
        self.attempted = 0
        self.ops: list[dict] = []

    # ---- failure accounting -------------------------------------------
    def fail(self, stage: str, name: str, detail: str) -> None:
        self.failures.append({"stage": stage, "name": name, "detail": detail[-2000:]})

    def attempt(self, stage: str, name: str, fn):
        """Run ``fn``; an exception is recorded as a failure, never swallowed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — counted and kept in the record
            self.fail(stage, name, traceback.format_exc())
            return None

    # ---- tracing helpers ----------------------------------------------
    def group(self, gid: str | None) -> None:
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(gid, gid)


def _inputs(workload: str, data: Path) -> dict:
    import datagen

    sf = SCALES[workload]
    return {"main": datagen.ensure_tables(data / f"sf{sf}", sf, DATA_SEED)}


def _families(queries: dict) -> dict[str, list[str]]:
    fams: dict[str, list[str]] = {}
    for name in sorted(queries):
        fams.setdefault(queries[name].__module__.rsplit(".", 1)[1], []).append(name)
    return fams


def setup(run: Run, dirs: dict) -> dict:
    """Session start, registry import, then a warmup on the first
    queries of each swept family (tpch_sweep) or the dedup-family memo
    builds (dedup_session).
    Returns per-step seconds."""
    import spans

    tracer = run.tracer
    steps: dict[str, float] = {}
    t = time.perf_counter()
    spans.install(tracer)
    from data_pipeline_playground_spark.session import get_spark

    with tracer.span("session.get_spark"):
        run.spark = get_spark(f"perfbench-{run.args.workload}")
    steps["session.get_spark_s"] = time.perf_counter() - t

    t = time.perf_counter()
    from data_pipeline_playground_spark.registry import all_oracle_sql, all_queries

    with tracer.span("registry.all_queries"):
        run.queries = all_queries()
    run.oracle_sql = all_oracle_sql()
    run.families = _families(run.queries)
    steps["registry.all_queries_s"] = time.perf_counter() - t

    run.memo_builds = {}
    if run.args.workload == "tpch_sweep":
        t = time.perf_counter()
        with tracer.span("warmup"):
            # A cold JVM spends about 6 s of JIT warm-up on the first ~20
            # queries it runs, which would land on whichever queries the
            # seed puts first. The first few queries of each swept family
            # take most of it here, the same ones in every run.
            for name in (n for fam in SWEEP_FAMILIES["tpch_sweep"]
                         for n in run.families[fam][:WARMUP_PER_FAMILY]):
                run.attempt("warmup", name,
                            lambda n=name: run.queries[n](run.spark, dirs["main"]).toPandas())
            run.spark.catalog.clearCache()
        steps["warmup_s"] = time.perf_counter() - t
    else:
        from data_pipeline_playground_spark.memo_prebuild import touch_fns
        from procstat import tree_cpu

        fns = touch_fns()
        t = time.perf_counter()
        for name in dedup_memos():
            if tracer.on:
                run.group(f"memo:{name}")
            c0, p0 = tree_cpu() if tracer.on else 0.0, time.perf_counter()
            with tracer.span(f"memo_prebuild.{name}"):
                run.attempt("memo_build", name, lambda n=name: fns[n](run.spark, dirs["main"]))
            run.memo_builds[name] = {
                "wall_s": time.perf_counter() - p0,
                "cpu_s": (tree_cpu() - c0) if tracer.on else 0.0,
            }
        if tracer.on:
            run.group(None)
        steps["memo_builds_s"] = time.perf_counter() - t
    return steps


def sweeps(run: Run, dirs: dict):
    """Yield ``run.n_sweeps`` sweeps: each a list of the workload's ops as (name,
    family, thunk), in a new order drawn from the seed. A thunk returns
    (output pandas frame, extra per-op fields)."""
    from data_pipeline_playground_spark.plans.news_pipeline import run_news_pipeline

    def news():
        t = time.perf_counter()
        with run.tracer.span("plans.news_pipeline.run_news_pipeline"):
            df = run_news_pipeline(run.spark, dirs["main"])
        plan_s = time.perf_counter() - t
        with run.tracer.span("plans.news_pipeline.collect"):
            pdf = df.toPandas()
        return pdf, {"plan_s": plan_s, "collect_s": time.perf_counter() - t - plan_s}

    def query(name):
        return lambda: (run.queries[name](run.spark, dirs["main"]).toPandas(), {})

    ops = [(n, fam, query(n)) for fam in SWEEP_FAMILIES[run.args.workload]
           for n in run.families[fam]]
    if run.args.workload == "dedup_session":
        ops.append(("news_pipeline", "plans", news))
    rng = random.Random(run.args.seed)
    for _ in range(run.n_sweeps):
        rng.shuffle(ops)
        yield list(ops)


def measure(run: Run, dirs: dict) -> dict:
    """The timed phase: ``run.n_sweeps`` whole sweeps in a closed loop, so
    every run measures the same set of ops, in its seed's order."""
    from data_pipeline_playground_spark.caching import drain_ledger
    from procstat import host_cpu, tree_cpu, unstolen

    tracer = run.tracer
    drain_ledger()
    h0, c0 = host_cpu(), tree_cpu()
    start, start_wall = time.perf_counter(), time.time()
    for sweep in sweeps(run, dirs):
        for name, family, thunk in sweep:
            gid = f"op:{len(run.ops)}:{name}" if tracer.on else None
            if gid:
                run.group(gid)
            cpu0 = tree_cpu() if tracer.on else 0.0
            hp0, p0, w0 = host_cpu(), time.perf_counter(), time.time()
            run.attempted += 1
            try:
                with tracer.span(f"queries.{family}.{name}" if family != "plans" else "plans.news_pipeline"):
                    out, extra = thunk()
                error = None
            except Exception:  # noqa: BLE001 — counted and kept in the record
                out, extra, error = None, {}, traceback.format_exc()
            wall = time.perf_counter() - p0
            net = unstolen(wall, hp0, host_cpu())
            if gid:
                run.group(None)
            if run.args.workload == "tpch_sweep":
                run.spark.catalog.clearCache()
            run.ops.append({
                "name": name, "family": family, "group": gid,
                "wall_s": wall, "net_s": net, "start": w0, "end": w0 + wall,
                "cpu_s": (tree_cpu() - cpu0) if tracer.on else None,
                "ledger": drain_ledger(), "out": out, **extra,
            })
            if error:
                run.fail("op", name, error)
    end = time.perf_counter()
    h1, c1 = host_cpu(), tree_cpu()
    own = c1 - c0
    return {
        "start": start_wall,
        "elapsed_s": end - start,
        "net_elapsed_s": unstolen(end - start, h0, h1),
        "tree_cpu_s": own,
        "host.steal_s": h1[1] - h0[1],
        "host.other_cpu_s": max(0.0, (h1[0] - h0[0]) - own),
    }


def _news_problems(pdf, survivors: set) -> list[str]:
    """Invariants of one news pipeline output (cluster membership is not
    in the output, so "top doc in its cluster" is checked as: a surviving
    doc, and no doc representing two clusters)."""
    problems = []
    if pdf["cluster_id"].nunique() != len(pdf):
        problems.append("rows != clusters")
    if int(pdf["n_articles"].sum()) != len(survivors):
        problems.append(f"sum(n_articles)={int(pdf['n_articles'].sum())} != {len(survivors)} survivors")
    if not set(pdf["top_doc_id"].tolist()) <= survivors or pdf["top_doc_id"].nunique() != len(pdf):
        problems.append("top_doc_id is not a distinct surviving doc per cluster")
    if (pdf["summary_text"].fillna("").str.strip() == "").any():
        problems.append("empty summary")
    return problems


def check(run: Run, dirs: dict) -> dict:
    """Verify every op's output; a mismatch is a failure of that op.

    tpch_sweep: against the live DuckDB oracle. dedup_session queries:
    against the canonical hashes in expected_dedup.json. news_pipeline:
    its invariants, against the survivors of dedup_fuzzy_minhash."""
    from tests.oracle import _canon_pdf, duckdb_conn

    done = [op for op in run.ops if op["out"] is not None]
    if run.args.workload == "tpch_sweep":
        con = duckdb_conn(dirs["main"])
        expected: dict[str, tuple] = {}
        try:
            for op in done:
                name = op["name"]
                if name not in expected:
                    try:
                        d = con.execute(run.oracle_sql[name]).df()
                        expected[name] = (sorted(d.columns), _canon_pdf(d))
                    except Exception:  # noqa: BLE001 — an unchecked op is a failed op
                        expected[name] = None
                        run.fail("oracle", name, traceback.format_exc())
                if expected[name] is None:
                    continue
                if (sorted(op["out"].columns), _canon_pdf(op["out"])) != expected[name]:
                    run.fail("mismatch", name, "differs from the DuckDB oracle")
        finally:
            con.close()
        return {"checked": len(done)}

    want = json.loads(EXPECTED_DEDUP.read_text())["queries"]
    survivors = None
    for op in done:
        name = op["name"]
        if name == "news_pipeline":
            if survivors is None:
                survivors = set(run.queries["dedup_fuzzy_minhash"](run.spark, dirs["main"])
                                .toPandas()["doc_id"].tolist())
            problems = _news_problems(op["out"], survivors)
            if problems:
                run.fail("mismatch", name, "; ".join(problems))
        elif name not in want:
            run.fail("mismatch", name, "no expected hash stored")
        elif canonical_hash(op["out"]) != want[name]["sha256"]:
            run.fail("mismatch", name, "canonical hash differs from the stored one")
    return {"checked": len(done)}


def end_to_end(run: Run, steps: dict, timed: dict, setup_cpu: float, peak_mb: float) -> dict:
    """Times are net of hypervisor steal (procstat.unstolen): on a shared
    host, steal moves from run to run far more than the program does."""
    walls = [op["net_s"] for op in run.ops]
    return {
        "setup_s": {"value": steps["setup_net_s"], "unit": "s"},
        "setup_cpu_s": {"value": setup_cpu, "unit": "s"},
        "op_p50_s": {"value": quantile(walls, 0.5), "unit": "s"},
        "op_p90_s": {"value": quantile(walls, 0.9), "unit": "s"},
        "ops_per_s": {"value": len(walls) / timed["net_elapsed_s"], "unit": "1/s"},
        "cpu_s_per_op": {"value": timed["tree_cpu_s"] / len(walls), "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def _baseline(records: Path, workload: str, fingerprint: str) -> dict[str, float]:
    """Op name -> median net time over the untraced records of this
    workload made by the same code: what tracing overhead is measured
    against. Pooling the records keeps one noisy run from setting it."""
    times: dict[str, list[float]] = {}
    for f in records.glob(f"{workload}-seed*-trace0.json"):
        rec = json.loads(f.read_text())
        if rec.get("fingerprint") == fingerprint:
            for name, _wall, net in rec["op_walls"]:
                times.setdefault(name, []).append(net)
    return {name: statistics.median(v) for name, v in times.items()}


def per_layer(run: Run, steps: dict, timed: dict, groups: dict, baseline: dict) -> dict:
    """Per-op means over the timed phase, except where a name says otherwise."""
    import spans
    from eventlog import union_s

    traced = run.ops
    n = max(1, len(traced))
    zero = {"tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "peak_exec_mem_mb": 0.0, "jobs": []}
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (steps["session.get_spark_s"], "s"),
        "registry.all_queries_s": (steps["registry.all_queries_s"], "s"),
        "host.steal_s": (timed["host.steal_s"], "s"),
        "host.other_cpu_s": (timed["host.other_cpu_s"], "s"),
    }

    # caching: memo calls seen by the wrapper, builds/remats from the ledger
    timed_spans = [s for s in run.tracer.spans if s["start"] >= timed["start"]]
    calls = sum(1 for s in timed_spans if s["name"] == "caching.memo")
    ledger = [e for op in traced for e in op["ledger"]]
    builds = [e for e in ledger if e["kind"] == "build"]
    remats = [e for e in ledger if e["kind"] == "remat"]
    m.update({
        "caching.memo_calls": (calls / n, "count"),
        "caching.builds": (len(builds) / n, "count"),
        "caching.remats": (len(remats) / n, "count"),
        "caching.build_s": (sum(e["sec"] for e in builds) / n, "s"),
        "caching.remat_s": (sum(e["sec"] for e in remats) / n, "s"),
        "caching.hit_ratio": ((calls - len(builds) - len(remats)) / calls if calls else 0.0, "ratio"),
    })

    for name in dedup_memos():
        b = run.memo_builds.get(name, {"wall_s": 0.0, "cpu_s": 0.0})
        g = groups.get(f"memo:{name}", zero)
        m[f"memo_prebuild.{name}.wall_s"] = (b["wall_s"], "s")
        m[f"memo_prebuild.{name}.cpu_s"] = (b["cpu_s"], "s")
        m[f"memo_prebuild.{name}.gc_s"] = (g["gc_s"], "s")
        m[f"memo_prebuild.{name}.tasks"] = (g["tasks"], "count")

    news = [op for op in traced if op["family"] == "plans"]
    m["plans.news_pipeline.plan_s"] = (statistics.median([op["plan_s"] for op in news]) if news else 0.0, "s")
    m["plans.news_pipeline.collect_s"] = (statistics.median([op["collect_s"] for op in news]) if news else 0.0, "s")

    for short in spans.OPERATOR_MODULES:
        secs = sum(s["wall_s"] for s in timed_spans if s["name"].startswith(f"operators.{short}."))
        m[f"operators.{short}_s"] = (secs / n, "s")

    # spark: per traced op, from the event log groups
    tot = {k: 0.0 for k in zero if k != "jobs"}
    driver = 0.0
    for op in traced:
        g = groups.get(op["group"], zero)
        for k in tot:
            tot[k] = max(tot[k], g[k]) if k == "peak_exec_mem_mb" else tot[k] + g[k]
        driver += op["wall_s"] - union_s(g["jobs"], op["start"], op["end"])
    m.update({
        "spark.driver_s": (driver / n, "s"),
        "spark.tasks": (tot["tasks"] / n, "count"),
        "spark.gc_s": (tot["gc_s"] / n, "s"),
        "spark.executor_cpu_s": (tot["executor_cpu_s"] / n, "s"),
        "spark.shuffle_read_mb": (tot["shuffle_read_mb"] / n, "MB"),
        "spark.shuffle_write_mb": (tot["shuffle_write_mb"] / n, "MB"),
        "spark.spill_mb": (tot["spill_mb"] / n, "MB"),
        "spark.peak_exec_mem_mb": (tot["peak_exec_mem_mb"], "MB"),
    })

    for fam in ALL_FAMILIES:
        ops = [op for op in traced if op["family"] == fam]
        k = max(1, len(ops))
        m[f"queries.{fam}.op_s"] = (sum(op["wall_s"] for op in ops) / k, "s")
        m[f"queries.{fam}.cpu_s"] = (sum(op["cpu_s"] for op in ops) / k, "s")

    # tracing overhead: per-op time net of steal against the same op in
    # untraced runs of the same code; without any the run fails
    ratios = [op["net_s"] / baseline[op["name"]] for op in traced if baseline.get(op["name"])]
    if not ratios:
        run.fail("trace", "overhead", "no untraced record of this code to compare with")
    walls = [op["wall_s"] for op in traced]
    m["trace.overhead_frac"] = (statistics.median(ratios) - 1.0 if ratios else 0.0, "ratio")
    m["trace.op_p50_s"] = (statistics.median(walls) if walls else 0.0, "s")
    m["trace.spans"] = (len(run.tracer.spans), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _event_groups(logdir: Path, app_id: str) -> dict:
    from eventlog import fold

    path = logdir / app_id
    try:
        with open(path) as f:
            return fold(f)
    finally:
        path.unlink()  # tens of MB per run


def _stop_spark(run: Run) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    run.spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: do not leave it running
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: {ROOT} is not a checkout of the package", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import spans
    from procstat import RssPeak, host_cpu, tree_cpu, unstolen

    work = ROOT / ".perfbench"
    records = work / "records"
    records.mkdir(parents=True, exist_ok=True)
    fingerprint = source_fingerprint()
    baseline: dict[str, float] = {}
    if args.trace:
        baseline = _baseline(records, args.workload, fingerprint)
        if not baseline:
            # no untraced record of this code yet: make one, same seed
            subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.DEVNULL, check=False)
            baseline = _baseline(records, args.workload, fingerprint)
    sizing = _sizing(work)
    logdir = _enable_event_log(work) if args.trace else None
    dirs = _inputs(args.workload, work / "data")

    run = Run(args)
    run.n_sweeps = max(1, round(args.seconds / SEED_SWEEP_S[args.workload]))
    run.tracer = spans.Tracer(on=bool(args.trace))
    with RssPeak() as rss:
        h0, c0, t0 = host_cpu(), tree_cpu(), time.perf_counter()
        steps = setup(run, dirs)
        steps["setup_s"] = time.perf_counter() - t0
        steps["setup_net_s"] = unstolen(steps["setup_s"], h0, host_cpu())
        setup_cpu = tree_cpu() - c0
        timed = measure(run, dirs)
    check_info = check(run, dirs)
    app_id = run.spark.sparkContext.applicationId
    _stop_spark(run)

    if args.trace:
        metrics = per_layer(run, steps, timed, _event_groups(logdir, app_id), baseline)
    else:
        metrics = end_to_end(run, steps, timed, setup_cpu, rss.peak_mb)
    failed = len(run.failures)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fingerprint": fingerprint, "sizing": sizing, "setup_steps": steps,
        "timed": timed, "sweeps": run.n_sweeps, "ops_per_sweep": len(run.ops) // run.n_sweeps,
        "ops": len(run.ops), **check_info,
        "attempted": run.attempted, "failed": failed,
        "failed_frac": failed / max(1, run.attempted), "failures": run.failures,
        "op_walls": [[op["name"], op["wall_s"], op["net_s"]] for op in run.ops],
        "metrics": metrics,
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (records / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        (records / f"{stem}.spans.json").write_text(json.dumps(run.tracer.spans, default=str))
    for f in run.failures:
        print(f"perfbench: FAILED {f['stage']}:{f['name']}: {f['detail'].splitlines()[-1]}",
              file=sys.stderr)
    print(f"perfbench: {stem} sweeps={run.n_sweeps} ops={len(run.ops)} checked={check_info['checked']} "
          f"failed={failed} steal_s={timed['host.steal_s']:.2f} "
          f"other_cpu_s={timed['host.other_cpu_s']:.2f} sizing={sizing}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
