"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the package reads (``tables.TABLES``) as one
parquet file each, with the schema, key ranges and value distributions
of the project's synthetic TPC-H-ish test data: the same column types,
the same per-scale-factor row counts, and a documents corpus of random
words from a 30-word vocabulary in which 5% of the documents are an
earlier or later document's text plus the token ``dup``.

The same (scale, seed) always yields byte-identical values, so stored
expected outputs stay valid. Call ``ensure_tables`` to generate into a
directory once and reuse it afterwards.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def documents(n: int, seed: int) -> pa.Table:
    """``n`` random-word documents; 5% are another document's text + ' dup'."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    dups = rng.choice(n, size=n // 20, replace=False)
    dup_set = set(dups.tolist())
    for i in dups:
        j = int(rng.integers(0, n))
        while j == i or j in dup_set:
            j = int(rng.integers(0, n))
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf``, from one seeded stream per table."""
    n = row_counts(sf)
    rngs = {
        name: np.random.default_rng([seed, i])
        for i, name in enumerate(("customer", "supplier", "part", "orders",
                                  "lineitem", "events", "embeddings"))
    }
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })

    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
    })

    r, k = rngs["part"], n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": _pick(r, names, k),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)], pa.string()),
        "p_type": _pick(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + r.integers(0, 1000, k) * 0.1, 1)),
    })

    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
        "o_orderstatus": _pick(r, ("F", "O", "P"), k),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, k)),
        "o_orderdate": _ts(_EPOCH_1995_US + r.integers(0, 2405, k) * _DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })

    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n["part"], k).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, k)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.10, k), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, k), 2)),
        "l_returnflag": _pick(r, ("A", "N", "R"), k),
        "l_linestatus": _pick(r, ("F", "O"), k),
        "l_shipdate": _ts(_EPOCH_1995_US + r.integers(1, 2500, k) * _DAY_US),
    })

    r, k = rngs["events"], n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, k))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024_US + ts),
        "user_id": pa.array(r.integers(0, max(1, int(15_000 * sf)), k).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": pa.array(np.round(r.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)], pa.string()),
    })

    out["documents"] = documents(n["documents"], seed)

    r, k = rngs["embeddings"], n["embeddings"]
    vecs = r.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k).astype(np.int32)),
    })
    return out


def _version() -> str:
    return hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:12]


def _write(directory: Path, spec: dict, make) -> Path:
    """Generate into ``directory`` unless a complete copy of ``spec`` is there."""
    stamp = directory / "SPEC.json"
    spec = dict(spec, generator=_version())
    if stamp.exists() and json.loads(stamp.read_text()) == spec:
        return directory
    tmp = directory.with_name(directory.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, tbl in make().items():
        pq.write_table(tbl, tmp / f"{name}.parquet")
    (tmp / "SPEC.json").write_text(json.dumps(spec))
    shutil.rmtree(directory, ignore_errors=True)
    tmp.rename(directory)
    return directory


def ensure_tables(directory: Path, sf: float, seed: int) -> str:
    _write(directory, {"sf": sf, "seed": seed}, lambda: tables(sf, seed))
    return str(directory)

