"""Produce expected_dedup.json: canonical output hashes of the dedup_session
sweep on its fixed generated tables.

    python3 perfbench/make_expected.py

Run once, from the root of a checkout, when the inputs or the query set
change. Each hash comes from the DuckDB oracle SQL when it finishes
within ORACLE_TIMEOUT_S seconds; otherwise from the package's Spark
output, and is then marked ``"source": "spark-seed"``. Where both exist
and disagree the DuckDB hash is stored and the disagreement printed.
"""

from __future__ import annotations

import json
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run as bench  # noqa: E402

ORACLE_TIMEOUT_S = 120.0


def _duckdb_df(con, sql: str, timeout_s: float):
    result: list = []
    t = threading.Thread(target=lambda: result.append(con.execute(sql).df()), daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        con.interrupt()
        t.join()
        return None
    return result[0] if result else None


def main() -> int:
    work = HERE.parent / ".perfbench"
    bench._sizing(work)
    dirs = bench._inputs("dedup_session", work / "data")
    from data_pipeline_playground_spark.registry import all_oracle_sql, all_queries
    from data_pipeline_playground_spark.session import get_spark
    from tests.oracle import duckdb_conn

    spark = get_spark("perfbench-expected")
    queries, oracle = all_queries(), all_oracle_sql()
    fams = bench._families(queries)
    names = [n for fam in bench.SWEEP_FAMILIES["dedup_session"] for n in fams[fam]]
    con = duckdb_conn(dirs["main"])
    out = {}
    for name in names:
        s_pdf = queries[name](spark, dirs["main"]).toPandas()
        s_hash = bench.canonical_hash(s_pdf)
        d_pdf = _duckdb_df(con, oracle[name], ORACLE_TIMEOUT_S) if name in oracle else None
        if d_pdf is None:
            out[name] = {"sha256": s_hash, "rows": len(s_pdf), "source": "spark-seed"}
        else:
            d_hash = bench.canonical_hash(d_pdf)
            if d_hash != s_hash:
                print(f"{name}: Spark output differs from DuckDB", file=sys.stderr)
            out[name] = {"sha256": d_hash, "rows": len(d_pdf), "source": "duckdb"}
        print(name, out[name], file=sys.stderr)
    bench.EXPECTED_DEDUP.write_text(json.dumps({
        "inputs": {"sf": bench.SCALES["dedup_session"], "seed": bench.DATA_SEED},
        "queries": out,
    }, indent=1) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
