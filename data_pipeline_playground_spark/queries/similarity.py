"""Embedding similarity search + multimodal joins (SURVEY §2.12).

The dot products are computed with JVM-side higher-order functions
(zip_with + aggregate) — a narrow, shuffle-free map over each candidate
pair; the only join is the broadcast of the (small) query-vector set.
At 100 TB the same plan holds: brute-force is a single broadcast-join
scan, and the LSH variant (random-hyperplane buckets) turns it into an
equi-join on bucket signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

N_QUERY_VECTORS = 10  # vec_id < 10 are the "query" set
TOP_K = 5
DIM = 64  # fixed embedding width in the driver's tables


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product of two array<double> columns.

    Both Spark's aggregate() and DuckDB's list_reduce fold left-to-right,
    so the float rounding is identical on both sides. The ``dim``
    parameter is accepted for signature stability but the fold form is
    used unconditionally: an unrolled 64-term getItem chain was measured
    ~2.3× SLOWER than the codegen'd higher-order fold (the giant split
    expression defeats codegen), so the hot-path wins come from hoisting
    norms per-vector and evaluating cosine exactly once, not from
    unrolling.
    """
    del dim
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    del dim
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _embed_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
    )


# DuckDB mirrors (embedding FLOAT[] → DOUBLE[] first, as in Spark).
# list_reduce (not list_sum) so the fold is sequential like Spark's
# aggregate() — identical float rounding on both sides.
_SQL_V = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
    "(acc, v) -> acc + v)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({a}, x -> x * x)), (acc, v) -> acc + v))"
)


_COSINE_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERY_VECTORS}),
pairs AS (
  SELECT q.q_id, e.vec_id AS n_id,
         round({_SQL_DOT.format(a="q.qv", b="e.v")}
               / greatest({_SQL_NORM.format(a="q.qv")}
                          * {_SQL_NORM.format(a="e.v")}, 1e-12), 6) AS cosine
  FROM q, e
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, n_id, cosine FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
  FROM pairs
) WHERE rn <= {TOP_K}
"""


@query("embedding_cosine_topk", oracle=_COSINE_TOPK_SQL)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors against the
    full embedding table (one linear scan, no shuffle for the join),
    then per-query window top-k. Ranking uses the ROUNDED cosine with
    n_id tie-break for engine-portable determinism."""
    # norms are hoisted out of the pair loop: same float value as the
    # per-pair phrasing in the oracle, computed n times instead of n·q.
    e = _embed_double(spark, sf_dir).withColumn("nv", norm(F.col("v"), DIM))
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(
                dot(F.col("qv"), F.col("v"), DIM)
                / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "cosine")
    )


_EMBEDDING_NORMS_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings)
SELECT label,
       count(*) AS n_vectors,
       round(avg({_SQL_NORM.format(a="v")}), 4) AS avg_norm,
       round(min({_SQL_NORM.format(a="v")}), 4) AS min_norm,
       round(max({_SQL_NORM.format(a="v")}), 4) AS max_norm
FROM e GROUP BY label
"""


@query("embedding_norms_by_label", oracle=_EMBEDDING_NORMS_SQL)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding column."""
    e = _embed_double(spark, sf_dir)
    n = norm(F.col("v"), DIM)
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(n), 4).alias("avg_norm"),
        F.round(F.min(n), 4).alias("min_norm"),
        F.round(F.max(n), 4).alias("max_norm"),
    )


_MULTIMODAL_JOIN_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings)
SELECT d.lang, e.label,
       count(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       round(avg({_SQL_NORM.format(a="e.v")}), 4) AS avg_norm
FROM documents d JOIN e ON d.doc_id = e.vec_id
GROUP BY d.lang, e.label
"""


@query("multimodal_doc_embedding", oracle=_MULTIMODAL_JOIN_SQL)
def multimodal_doc_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text ⋈ embedding modalities on doc_id = vec_id (SURVEY §2.12) —
    the canonical multimodal-column join, aggregated per (lang, label)."""
    docs = table(spark, sf_dir, "documents")
    e = _embed_double(spark, sf_dir)
    return (
        docs.join(e, docs.doc_id == e.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg(norm(F.col("v"), DIM)), 4).alias("avg_norm"),
        )
    )


# --- LSH random-hyperplane ANN (scale path) ---------------------------------

import os as _os
import random as _random

# Hyperplane count is a SELF-SETTING dial (round 12 found the failure,
# round 13 closes it — VERDICT r12 #3): a FIXED 2^planes-bucket
# signature makes any bucket-pairwise consumer (mutual_nn_pairs:
# Σ bucket² work) scale as n²/2^planes — the r12 second-decade probe
# measured exponent 1.66 at the 8-plane default where the first decade
# read 0.31 (overhead-flattered). The scaling rule is
# planes = ceil(log₂(n / target_bucket_size)), so the DEFAULT is now
# DERIVED from the corpus row count at plan-build time
# (planes_for_count / lsh_planes below): the one-row count is a
# hyperparameter fetch, cached per sf_dir, and the rule reproduces
# r12's hand-validated configs (2 000 vectors → 5, 200 000 → 12 — the
# exact dial r12 set manually for its 100× probe). The DuckDB oracles
# derive the SAME plane count IN-SQL from COUNT(*) (integer-exact —
# see _SQL_PLANES), so each corpus size validates against its own
# derived oracle with no side channel.
# MAX_PLANES is a SAFETY RAIL, not a tuning dial (round 15, VERDICT
# r14 #3: the old 16-plane cap silently re-pinned the dial above
# 2^16·64 ≈ 4.2M vectors — the exact failure mode the derived dial
# exists to prevent, contradicting SCALE.md's ~26-28 planes at 10¹⁰
# vectors). 34 planes saturate at 2^34·64 ≈ 1.1×10¹² vectors — two
# orders of magnitude past the 100 TB story's 10¹⁰ — so the dial stays
# self-setting at every claimed scale. Bucket ids need int64 beyond 31
# planes: ann_lsh_buckets casts BIGINT on BOTH engines, and the
# multiprobe bit-flip shifts a bigint 1 (below). Derived counts at the
# test SFs (4-12 planes) are unchanged — HYPERPLANES extends by
# appending rows 17-34 from the same sequential RNG, so the first 16
# planes, every small-corpus bucket id, and every oracle derivation
# are bit-identical to round 14.
MIN_PLANES = 4
MAX_PLANES = 34
LSH_TARGET_BUCKET = 64
EMBED_DIM = 64
_rng = _random.Random(1337)
# deterministic hyperplane matrix, inlined into the oracle SQL; the
# derived count slices a prefix, so smaller configs share the same
# leading planes — an 8-plane derived bucket id equals the old 8-plane
# default's bit for bit
HYPERPLANES: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(EMBED_DIM)]
    for _ in range(MAX_PLANES)
]


def planes_for_count(n: int) -> int:
    """Smallest p with 2^p ≥ n / LSH_TARGET_BUCKET, clamped to
    [MIN_PLANES, MAX_PLANES] — pure integer math (ceil-div +
    bit_length), provably equal to the oracle's
    CEIL(LOG2(n / target)) for every positive n (no power of two lies
    strictly between n/target and ceil(n/target))."""
    m = max(1, -(-n // LSH_TARGET_BUCKET))
    return max(MIN_PLANES, min(MAX_PLANES, (m - 1).bit_length()))


_PLANES_CACHE: dict[tuple, int] = {}


def lsh_planes(spark: SparkSession, sf_dir: str) -> int:
    """Plane count for this corpus, derived from the embeddings row
    count (one count job per corpus, cached — the same plan-build
    hyperparameter-fetch class as the cluster-count lookup in
    queries/ml.py). The cache key includes the
    embeddings file's (mtime, size) — ADVICE r13 #3: a corpus REBUILT
    at the same path with a different row count in one process (e.g.
    scale_probe chaining builds) would otherwise keep a stale plane
    count while the DuckDB oracle re-derives from the new COUNT(*),
    making query and oracle bucket differently."""
    path = _os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = _os.stat(path)
        key = (sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:  # non-standard layout — fall back to path-only key
        key = (sf_dir,)
    if key not in _PLANES_CACHE:
        _PLANES_CACHE[key] = planes_for_count(
            table(spark, sf_dir, "embeddings").count()
        )
    return _PLANES_CACHE[key]


def _sql_plane_literal(p: list[float]) -> str:
    return "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in p) + "]"


# the oracle-side plane count, derived in-SQL from COUNT(*) —
# integer-exact at the boundaries (n/target is a dyadic rational; LOG2
# of an exact power of two is exact, and non-boundary values sit
# ≥ 2⁻¹⁴ in log2 away from an integer for any realistic corpus count)
_SQL_PLANES = (
    f"(SELECT GREATEST({MIN_PLANES}, LEAST({MAX_PLANES}, "
    f"CAST(CEIL(LOG2(CAST(count(*) AS DOUBLE) / {LSH_TARGET_BUCKET}.0)) "
    f"AS INT))) FROM embeddings)"
)


def _sql_bucket(planes_sql: str) -> str:
    """Oracle sign-bit signature of ``v`` over the first ``planes_sql``
    hyperplanes (a SQL integer expression) — the DuckDB mirror of
    _bucket_col."""
    return (
        "("
        + " + ".join(
            f"(CASE WHEN {i} < {planes_sql} "
            f"AND {_SQL_DOT.format(a='v', b=_sql_plane_literal(p))} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(HYPERPLANES)
        )
        + ")"
    )


_SQL_BUCKET = _sql_bucket(_SQL_PLANES)

_LSH_BUCKETS_SQL = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings)
SELECT CAST({_SQL_BUCKET} AS BIGINT) AS bucket,
       count(*) AS n_vectors,
       min(vec_id) AS min_vec_id
FROM e GROUP BY 1
"""


def _bucket_col(planes: int) -> Column:
    """Spark mirror of _sql_bucket: sign-bit signature over the first
    ``planes`` hyperplanes — a narrow map, no shuffle; bucketing turns
    ANN search into an equi-join on the signature. ``planes`` comes
    from lsh_planes(spark, sf_dir) so the Spark plan computes exactly
    the bits the oracle's in-SQL derivation keeps."""
    bits = []
    for i, plane in enumerate(HYPERPLANES[:planes]):
        pl = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(dot(F.col("v"), pl, DIM) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


@query("ann_lsh_buckets", oracle=_LSH_BUCKETS_SQL)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket profile: p sign bits → 2^p
    buckets, p derived from the corpus row count (planes_for_count —
    ceil(log₂(n/64)) clamped to [MIN_PLANES, MAX_PLANES] = [4, 34]);
    the oracle derives the identical p in-SQL from COUNT(*). The bucket
    id is the ANN join key at scale (same-bucket candidates only);
    this query verifies the signature computation end-to-end."""
    e = _embed_double(spark, sf_dir)
    # BIGINT on both engines: bucket ids exceed int32 beyond 31 planes
    # (values at test SFs unchanged — 4-12 derived planes)
    return (
        e.withColumn(
            "bucket", _bucket_col(lsh_planes(spark, sf_dir)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


_ANN_LSH_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
b AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < {N_QUERY_VECTORS}),
pairs AS (
  SELECT q.q_id, b.vec_id AS n_id,
         round({_SQL_DOT.format(a="q.qv", b="b.v")}
               / greatest({_SQL_NORM.format(a="q.qv")}
                          * {_SQL_NORM.format(a="b.v")}, 1e-12), 6) AS cosine
  FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id
)
SELECT q_id, n_id, cosine FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
  FROM pairs
) WHERE rn <= {TOP_K}
"""


@query("ann_lsh_topk", oracle=_ANN_LSH_TOPK_SQL)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket (equi-join on signature — the 100 TB plan shape: shuffle
    ∝ bucket collisions, never a full scan per query)."""
    e = (
        _embed_double(spark, sf_dir)
        .withColumn("bucket", _bucket_col(lsh_planes(spark, sf_dir)))
        .withColumn("nv", norm(F.col("v"), DIM))
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
        F.col("bucket").alias("qbucket"),
    )
    pairs = e.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            dot(F.col("qv"), F.col("v"), DIM)
            / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "cosine")
    )


_ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, label FROM e WHERE vec_id < {N_QUERY_VECTORS}),
pairs AS (
  SELECT q.q_id, e.vec_id AS n_id,
         round({_SQL_DOT.format(a="q.qv", b="e.v")}
               / greatest({_SQL_NORM.format(a="q.qv")}
                          * {_SQL_NORM.format(a="e.v")}, 1e-12), 6) AS cosine
  FROM q JOIN e ON q.label = e.label AND e.vec_id <> q.q_id
)
SELECT q_id, n_id, cosine FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
  FROM pairs
) WHERE rn <= {TOP_K}
"""


@query("ann_ivf_topk", oracle=_ANN_IVF_SQL)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (the `label`
    column stands in for the coarse-quantizer assignment). Equi-join on
    the cell id — partition-pruned search, the classic IVF shape."""
    e = _embed_double(spark, sf_dir).withColumn("nv", norm(F.col("v"), DIM))
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
        F.col("label").alias("qlabel"),
    )
    pairs = e.join(
        F.broadcast(q),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            dot(F.col("qv"), F.col("v"), DIM)
            / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "cosine")
    )


IVF_K = 16  # coarse-quantizer cells
IVF_NPROBE = 2  # cells probed per query


@query("ann_ivf_trained_topk")
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer — the production shape of
    ann_ivf_topk (which reuses the pre-assigned label as its cell):
    seeded KMeans learns IVF_K centroids, every vector is assigned to
    its nearest cell, and each query probes only its IVF_NPROBE nearest
    cells. The candidate join is an equi-join on cell id, so the scan
    is cell-pruned — cost ∝ nprobe/k of brute force. At 100 TB the fit
    runs on a sample, the (k × dim) centroid table broadcasts
    everywhere, and cell id becomes a partition key. Rows-only (an
    iterative ML fit has no SQL oracle); recall vs the exact top-k is
    invariant-tested."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        e = _embed_double(spark, sf_dir).withColumn("nv", norm(F.col("v")))
        feats = e.withColumn("features", array_to_vector("v"))
        km = KMeans(k=IVF_K, maxIter=10, seed=42, featuresCol="features").fit(feats)
        cells = km.transform(feats).select(
            "vec_id", "v", "nv", F.col("prediction").alias("cell")
        )
        # centroid table: tiny (k × dim) — broadcast as array<double>
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
            "centroid_id int, cv array<double>",
        )
        return cells, centroids

    cells, centroids = memo(spark, "ivf_trained", sf_dir, build)
    # queries → their IVF_NPROBE nearest centroids (k rows per query
    # before the rank; k is a constant, so this stays driver-small)
    q = cells.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("centroid_id"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("d2", d2)
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= IVF_NPROBE)
        .select("q_id", "qv", "nq", F.col("centroid_id").alias("cell"))
    )
    pairs = cells.join(
        F.broadcast(probes),
        (cells["cell"] == probes["cell"]) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            dot(F.col("qv"), F.col("v"))
            / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "cosine")
    )


# --- multi-probe LSH (the production fix for single-probe recall) -----------

# probe Hamming-0 and all Hamming-1 buckets; the static range spans
# MAX_PLANES and the in-SQL WHERE trims to the corpus's derived count
# (matching the Spark side's sequence bound)
MULTIPROBE_BITS = MAX_PLANES

_LSH_MULTIPROBE_SQL = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
b AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < {N_QUERY_VECTORS}),
probes AS (
  SELECT q.q_id, q.qv,
         CASE WHEN f.flip < 0 THEN q.bucket
              ELSE xor(q.bucket, CAST(1 AS BIGINT) << f.flip) END AS pbucket
  FROM q, (SELECT unnest(range(-1, {MULTIPROBE_BITS})) AS flip) f
  WHERE f.flip < {_SQL_PLANES}
),
pairs AS (
  SELECT p.q_id, b.vec_id AS n_id,
         round({_SQL_DOT.format(a="p.qv", b="b.v")}
               / greatest({_SQL_NORM.format(a="p.qv")}
                          * {_SQL_NORM.format(a="b.v")}, 1e-12), 6) AS cosine
  FROM probes p JOIN b ON p.pbucket = b.bucket AND b.vec_id <> p.q_id
)
SELECT q_id, n_id, cosine FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
  FROM pairs
) WHERE rn <= {TOP_K}
"""


@query("ann_lsh_multiprobe_topk", oracle=_LSH_MULTIPROBE_SQL)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007): each query probes its
    own bucket PLUS every Hamming-distance-1 bucket (flip one sign
    bit), so candidates grow 9× while the index stays single-table —
    the standard production answer to the low single-probe recall
    that ann_recall_certificate exposes on this corpus. Buckets
    partition the vector set, so probe buckets are disjoint and no
    candidate dedup is needed. The probe fan-out is on the QUERY side
    only (10 × 9 rows broadcast); the corpus side remains one
    equi-join on its precomputed signature — at 100 TB identical
    bucket-local shape to ann_lsh_topk, just nprobe× the candidate
    volume."""
    planes = lsh_planes(spark, sf_dir)
    e = (
        _embed_double(spark, sf_dir)
        .withColumn("bucket", _bucket_col(planes))
        .withColumn("nv", norm(F.col("v"), DIM))
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
        F.col("bucket").alias("qbucket"),
    )
    probes = q.select(
        "q_id", "qv", "nq",
        F.explode(
            F.expr(
                f"transform(sequence(-1, {planes - 1}), "
                f"f -> CASE WHEN f < 0 THEN qbucket "
                f"ELSE qbucket ^ shiftleft(CAST(1 AS BIGINT), f) END)"
            )
        ).alias("pbucket"),
    )
    pairs = e.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            dot(F.col("qv"), F.col("v"), DIM)
            / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "cosine")
    )


# --- ANN recall certificate (approximation quality as a checked metric) -----

_ANN_RECALL_SQL = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
b AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < {N_QUERY_VECTORS}),
exact_topk AS (
  SELECT q_id, n_id FROM (
    SELECT q.q_id, e.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round({_SQL_DOT.format(a="q.qv", b="e.v")}
                      / greatest({_SQL_NORM.format(a="q.qv")}
                                 * {_SQL_NORM.format(a="e.v")}, 1e-12), 6) DESC,
                      e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q.q_id
  ) WHERE rn <= {TOP_K}
),
lsh_topk AS (
  SELECT q_id, n_id FROM (
    SELECT q.q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round({_SQL_DOT.format(a="q.qv", b="b.v")}
                      / greatest({_SQL_NORM.format(a="q.qv")}
                                 * {_SQL_NORM.format(a="b.v")}, 1e-12), 6) DESC,
                      b.vec_id) AS rn
    FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id
  ) WHERE rn <= {TOP_K}
),
mp_topk AS (
  SELECT q_id, n_id FROM (
    SELECT p.q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY p.q_id
             ORDER BY round({_SQL_DOT.format(a="p.qv", b="b.v")}
                      / greatest({_SQL_NORM.format(a="p.qv")}
                                 * {_SQL_NORM.format(a="b.v")}, 1e-12), 6) DESC,
                      b.vec_id) AS rn
    FROM (
      SELECT q.q_id, q.qv,
             CASE WHEN f.flip < 0 THEN q.bucket
                  ELSE xor(q.bucket, CAST(1 AS BIGINT) << f.flip) END AS pbucket
      FROM q, (SELECT unnest(range(-1, {MULTIPROBE_BITS})) AS flip) f
      WHERE f.flip < {_SQL_PLANES}
    ) p JOIN b ON p.pbucket = b.bucket AND b.vec_id <> p.q_id
  ) WHERE rn <= {TOP_K}
),
el AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
ql AS (SELECT vec_id AS q_id, v AS qv, label FROM el WHERE vec_id < {N_QUERY_VECTORS}),
ivf_topk AS (
  SELECT q_id, n_id FROM (
    SELECT ql.q_id, el.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY ql.q_id
             ORDER BY round({_SQL_DOT.format(a="ql.qv", b="el.v")}
                      / greatest({_SQL_NORM.format(a="ql.qv")}
                                 * {_SQL_NORM.format(a="el.v")}, 1e-12), 6) DESC,
                      el.vec_id) AS rn
    FROM ql JOIN el ON ql.label = el.label AND el.vec_id <> ql.q_id
  ) WHERE rn <= {TOP_K}
)
SELECT x.q_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(l.n_id) AS BIGINT) AS lsh_hit,
       CAST(count(m.n_id) AS BIGINT) AS mp_hit,
       CAST(count(i.n_id) AS BIGINT) AS ivf_hit,
       CAST(count(l.n_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS lsh_recall,
       CAST(count(m.n_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mp_recall,
       CAST(count(i.n_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ivf_recall
FROM exact_topk x
LEFT JOIN lsh_topk l ON l.q_id = x.q_id AND l.n_id = x.n_id
LEFT JOIN mp_topk m ON m.q_id = x.q_id AND m.n_id = x.n_id
LEFT JOIN ivf_topk i ON i.q_id = x.q_id AND i.n_id = x.n_id
GROUP BY x.q_id
"""


@query("ann_recall_certificate", oracle=_ANN_RECALL_SQL)
def ann_recall_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every approximate ANN tier (single-probe LSH,
    Hamming-1 multi-probe LSH, IVF cell probe) against the exact
    brute-force top-k, per query vector — the approximation-quality
    metric a production vector pipeline ships NEXT TO its index, here
    itself oracle-checked (all four rankings are deterministic:
    rounded cosine, n_id tie-break, so hit COUNTS are exact integers
    and recall is one int/int double division — bit-identical across
    engines).

    Composes four already-checked tiers (embedding_cosine_topk,
    ann_lsh_topk, ann_lsh_multiprobe_topk, ann_ivf_topk) through
    miss-revealing left joins. EXPECTED RESULT on this corpus: recall
    is LOW (LSH ≈ 0 → multi-probe ≈ 0.06 → IVF ≈ 0.1) and that is
    the certificate doing its job — the synthetic embeddings are
    near-orthogonal (top-neighbor cosine ≈ 0.4 → per-hyperplane
    agreement ≈ 0.6 → P[8-bit signatures collide] ≈ 0.6^8 ≈ 2%), so
    bucketed indexes cannot serve this distribution and the
    certificate SAYS so (and quantifies exactly what multi-probe buys)
    before a 100 TB index build would. At scale the exact side runs on
    a sampled query set (here: the fixed query vectors), exactly how
    production recall certificates work."""
    gt = embedding_cosine_topk(spark, sf_dir).select("q_id", "n_id")
    lsh = ann_lsh_topk(spark, sf_dir).select(
        F.col("q_id").alias("lq"), F.col("n_id").alias("ln"),
        F.lit(1).alias("lhit"),
    )
    mp = ann_lsh_multiprobe_topk(spark, sf_dir).select(
        F.col("q_id").alias("mq"), F.col("n_id").alias("mn"),
        F.lit(1).alias("mhit"),
    )
    ivf = ann_ivf_topk(spark, sf_dir).select(
        F.col("q_id").alias("iq"), F.col("n_id").alias("inn"),
        F.lit(1).alias("ihit"),
    )
    return (
        gt.join(
            lsh,
            (F.col("q_id") == F.col("lq")) & (F.col("n_id") == F.col("ln")),
            "left",
        )
        .join(
            mp,
            (F.col("q_id") == F.col("mq")) & (F.col("n_id") == F.col("mn")),
            "left",
        )
        .join(
            ivf,
            (F.col("q_id") == F.col("iq")) & (F.col("n_id") == F.col("inn")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("lhit").alias("lsh_hit"),
            F.count("mhit").alias("mp_hit"),
            F.count("ihit").alias("ivf_hit"),
            (F.count("lhit").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("lsh_recall"),
            (F.count("mhit").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("mp_recall"),
            (F.count("ihit").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("ivf_recall"),
        )
    )


# --- embedding-cosine near-dup dedup (north-star tier) ----------------------

# The synthetic embeddings carry no true near-duplicates (max within-
# cell cosine ≈ 0.47 at sf0.01), so the threshold sits in the upper
# tail of the real distribution to keep the operator's filter+survivor
# logic exercised; production semantic dedup would use ~0.95.
EMBED_DUP_THRESHOLD = 0.35

_EMBED_PAIRS_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS ci, b.vec_id AS cj,
         round({_SQL_DOT.format(a="a.v", b="b.v")}
               / greatest({_SQL_NORM.format(a="a.v")}
                          * {_SQL_NORM.format(a="b.v")}, 1e-12), 6) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
)
SELECT ci, cj, cosine FROM pairs WHERE cosine >= {EMBED_DUP_THRESHOLD}
"""

_EMBED_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS ci,
         round({_SQL_DOT.format(a="a.v", b="b.v")}
               / greatest({_SQL_NORM.format(a="a.v")}
                          * {_SQL_NORM.format(a="b.v")}, 1e-12), 6) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
)
SELECT em.vec_id FROM embeddings em
WHERE NOT EXISTS (
  SELECT 1 FROM pairs
  WHERE pairs.ci = em.vec_id AND pairs.cosine >= {EMBED_DUP_THRESHOLD}
)
"""


def _embed_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cell cosine pairs ≥ threshold. The `label` column is the
    coarse cell (at 100 TB: an IVF quantizer or LSH bucket assignment);
    blocking on it makes candidate generation an equi-join, and the
    oracle applies the same blocking, so results match exactly."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        e = _embed_double(spark, sf_dir).withColumn("nv", norm(F.col("v"), DIM))
        a = e.select(
            F.col("vec_id").alias("ci"), F.col("label").alias("la"),
            F.col("v").alias("va"), F.col("nv").alias("na"),
        )
        b = e.select(
            F.col("vec_id").alias("cj"), F.col("label").alias("lb"),
            F.col("v").alias("vb"), F.col("nv").alias("nb"),
        )
        cos = F.round(
            dot(F.col("va"), F.col("vb"), DIM)
            / F.greatest(F.col("na") * F.col("nb"), F.lit(1e-12)),
            6,
        )
        # cache BELOW the threshold filter: the InMemoryRelation is an
        # optimizer barrier, so the filter cannot be pushed into the
        # join condition — which would evaluate the 64-wide cosine
        # twice per candidate pair (once as join residual, once in the
        # projection). Shared by dedup_embedding_pairs/dedup_embedding.
        all_pairs = (
            a.join(b, (F.col("la") == F.col("lb")) & (F.col("cj") < F.col("ci")))
            .select("ci", "cj", cos.alias("cosine"))
            .cache()
        )
        # ... but don't let the n²/cells-row cache squat on executor
        # storage for the rest of the session (it evicts other queries'
        # blocks): eagerly materialize the tiny thresholded result
        # THROUGH the cache (one join pass), then free the big block.
        kept = all_pairs.filter(
            F.col("cosine") >= EMBED_DUP_THRESHOLD
        ).localCheckpoint(eager=True)
        all_pairs.unpersist()
        return kept

    return memo(spark, "embed_dup_pairs", sf_dir, build)


@query("dedup_embedding_pairs", oracle=_EMBED_PAIRS_SQL)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.95 within the coarse cell."""
    return _embed_dup_pairs(spark, sf_dir)


@query("dedup_embedding", oracle=_EMBED_DEDUP_SQL)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine dedup survivors (keep-min-id, same spec as the
    text dedup tiers) — the semantic-dedup stage of an LLM data
    pipeline, here over the embeddings modality."""
    e = table(spark, sf_dir, "embeddings")
    pairs = _embed_dup_pairs(spark, sf_dir)
    return e.join(pairs, e.vec_id == pairs.ci, "left_anti").select("vec_id")


# --- train/eval embedding drift check ---------------------------------------

_DRIFT_TRAIN_PCT = 80

def _drift_sql() -> str:
    from data_pipeline_playground_spark.functions.text import sql_rolling_hash
    from data_pipeline_playground_spark.queries.sampling import SPLIT_SALT

    bucket = sql_rolling_hash(f"'{SPLIT_SALT}' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH e AS (
  SELECT vec_id, label,
         CASE WHEN {bucket} % 100 < {_DRIFT_TRAIN_PCT}
              THEN 'train' ELSE 'eval' END AS split,
         embedding
  FROM embeddings
),
x AS (
  SELECT label, split,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM e
),
c AS (SELECT label, split, pos, sum(v) AS s FROM x GROUP BY label, split, pos),
p AS (
  SELECT a.label,
         sum(a.s * b.s) AS dp, sum(a.s * a.s) AS na, sum(b.s * b.s) AS nb
  FROM c a
  JOIN c b ON a.label = b.label AND a.pos = b.pos
          AND a.split = 'train' AND b.split = 'eval'
  GROUP BY a.label
),
n AS (SELECT label, split, count(*) AS n FROM e GROUP BY label, split)
SELECT p.label,
       round(dp / (sqrt(na) * sqrt(nb)), 6) AS centroid_cosine,
       nt.n AS n_train, ne.n AS n_eval
FROM p
JOIN n nt ON nt.label = p.label AND nt.split = 'train'
JOIN n ne ON ne.label = p.label AND ne.split = 'eval'
"""


@query("embedding_split_drift", oracle=_drift_sql())
def embedding_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between the deterministic train/eval
    splits: cosine between each label's train centroid and eval
    centroid (cosine of the per-dimension SUMS — scale-invariant, so
    no division by n). A healthy random split scores near 1.0;
    systematic drift (temporal skew, label leakage into one split)
    drops it. Plan: posexplode → (label, split, pos) partial-sum
    aggregate (one shuffle, combiner-friendly), then a dim²-free
    self-join on (label, pos) over LABEL×DIM rows — the fact table is
    touched once. The split is the same salted portable hash as
    dataset_split, so this composes with the real split assignment."""
    from data_pipeline_playground_spark.functions.text import rolling_hash
    from data_pipeline_playground_spark.queries.sampling import SPLIT_SALT

    emb = _embed_double(spark, sf_dir)
    bucket = (
        rolling_hash(F.concat(F.lit(SPLIT_SALT), F.col("vec_id").cast("string")))
        % 100
    )
    e = emb.select(
        "vec_id", "label",
        F.when(bucket < _DRIFT_TRAIN_PCT, "train").otherwise("eval").alias("split"),
        "v",
    )
    x = e.select("label", "split", F.posexplode("v").alias("pos", "val"))
    c = x.groupBy("label", "split", "pos").agg(F.sum("val").alias("s"))
    a = c.filter(F.col("split") == "train").select(
        F.col("label").alias("la"), F.col("pos").alias("pa"), F.col("s").alias("sa")
    )
    b = c.filter(F.col("split") == "eval").select(
        F.col("label").alias("lb"), F.col("pos").alias("pb"), F.col("s").alias("sb")
    )
    p = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("pa") == F.col("pb")))
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dp"),
            F.sum(F.col("sa") * F.col("sa")).alias("na"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb"),
        )
    )
    n = e.groupBy("label", "split").agg(F.count(F.lit(1)).alias("n"))
    nt = n.filter(F.col("split") == "train").select(
        F.col("label"), F.col("n").alias("n_train")
    )
    ne = n.filter(F.col("split") == "eval").select(
        F.col("label"), F.col("n").alias("n_eval")
    )
    return (
        p.select(
            "label",
            F.round(
                F.col("dp") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
            ).alias("centroid_cosine"),
        )
        .join(F.broadcast(nt), "label")
        .join(F.broadcast(ne), "label")
    )


# ---- kNN majority-vote label classification --------------------------------

KNN_K = 7  # neighbors per query for the vote

_KNN_VOTE_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERY_VECTORS}),
nb AS (
  SELECT q.q_id, e.vec_id AS n_id, e.label,
         round({_SQL_DOT.format(a="q.qv", b="e.v")}
               / greatest({_SQL_NORM.format(a="q.qv")}
                          * {_SQL_NORM.format(a="e.v")}, 1e-12), 6) AS cosine
  FROM q, e WHERE e.vec_id >= {N_QUERY_VECTORS}
),
top AS (
  SELECT q_id, label FROM nb
  QUALIFY row_number() OVER (
    PARTITION BY q_id ORDER BY cosine DESC, n_id) <= {KNN_K}
),
votes AS (SELECT q_id, label, count(*) AS votes FROM top GROUP BY q_id, label)
SELECT q_id, label AS pred_label, votes FROM votes
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) = 1
"""


@query("knn_label_vote", oracle=_KNN_VOTE_SQL)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-join classifier: predict each query vector's label by
    majority vote of its 7 nearest labeled neighbors (cosine; the
    labeled pool is every non-query vector). The weak-supervision /
    auto-labeling primitive of a training-data pipeline. Same plan
    shape as `embedding_cosine_topk` — the query set broadcasts into
    one linear corpus scan — plus two bounded per-query aggregates
    (≤k rows each). Cosines are rounded before ranking and both
    rankings tie-break deterministically (n_id; then label)."""
    e = _embed_double(spark, sf_dir).withColumn("nv", norm(F.col("v"), DIM))
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    nb = (
        e.filter(F.col("vec_id") >= N_QUERY_VECTORS)
        .join(F.broadcast(q))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "label",
            F.round(
                dot(F.col("qv"), F.col("v"), DIM)
                / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
                6,
            ).alias("cosine"),
        )
    )
    w_top = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    top = (
        nb.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= KNN_K)
        .select("q_id", "label")
    )
    votes = top.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    w_vote = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w_vote))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "votes")
    )


# ---- product quantization (PQ) ANN -----------------------------------------
#
# Full PQ (Jégou et al. 2011, "Product Quantization for Nearest
# Neighbor Search"): split each 64-d vector into 8 sub-vectors of 8
# dims, quantize each subspace against a 16-centroid codebook, answer
# queries via asymmetric distance computation (ADC) over the 8-byte
# codes. The codebook is deterministic — seeded from 16 fixed corpus
# vectors and refined by ONE Lloyd step — which keeps the whole
# operator SQL-expressible, so unlike the KMeans-trained IVF variant
# this ANN index is fully ORACLE-CHECKED, not rows-only.
#
# Float discipline: all distance folds are sequential (identical
# rounding both engines); refined centroid components round to 5
# decimals after the mean so partial-aggregation summation order can
# never flip an argmin; assignment and ADC rankings order by ROUNDED
# distance with cid / n_id tie-breaks.

PQ_M = 8  # subspaces
PQ_SUB_DIM = DIM // PQ_M  # dims per subspace
PQ_SEED_LO = N_QUERY_VECTORS  # codebook seed ids: [10, 26)
PQ_SEED_HI = N_QUERY_VECTORS + 16


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (same order as the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sql_l2sq(a: str, b: str, n: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {n} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, v) -> acc + v)"
    )


_PQ_CTES = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
sub AS (
  SELECT e.vec_id, m.m,
         list_slice(e.v, m.m * {PQ_SUB_DIM} + 1,
                    m.m * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM e, (SELECT unnest(range(0, {PQ_M})) AS m) m
),
c0 AS (
  SELECT m, vec_id - {PQ_SEED_LO} AS cid, sub AS c
  FROM sub WHERE vec_id >= {PQ_SEED_LO} AND vec_id < {PQ_SEED_HI}
),
a0 AS (
  SELECT s.vec_id, s.m, c0.cid, s.sub
  FROM sub s JOIN c0 ON c0.m = s.m
  QUALIFY row_number() OVER (
    PARTITION BY s.vec_id, s.m
    ORDER BY round({_sql_l2sq("s.sub", "c0.c", PQ_SUB_DIM)}, 6), c0.cid) = 1
),
cd AS (
  SELECT a0.m, a0.cid, i.i, round(avg(a0.sub[i.i]), 5) AS val
  FROM a0, (SELECT unnest(range(1, {PQ_SUB_DIM} + 1)) AS i) i
  GROUP BY a0.m, a0.cid, i.i
),
c1 AS (SELECT m, cid, list(val ORDER BY i) AS c FROM cd GROUP BY m, cid),
codes AS (
  SELECT s.vec_id, s.m, c1.cid
  FROM sub s JOIN c1 ON c1.m = s.m
  QUALIFY row_number() OVER (
    PARTITION BY s.vec_id, s.m
    ORDER BY round({_sql_l2sq("s.sub", "c1.c", PQ_SUB_DIM)}, 6), c1.cid) = 1
)
"""

_PQ_CODES_SQL = _PQ_CTES + """
SELECT vec_id, m, cid AS code FROM codes
"""

_PQ_TOPK_SQL = _PQ_CTES + f""",
dt AS (
  SELECT q.vec_id AS q_id, c1.m, c1.cid,
         {_sql_l2sq("q.sub", "c1.c", PQ_SUB_DIM)} AS d2q
  FROM sub q JOIN c1 ON c1.m = q.m
  WHERE q.vec_id < {N_QUERY_VECTORS}
),
adc AS (
  SELECT dt.q_id, codes.vec_id AS n_id, round(sum(dt.d2q), 6) AS approx_d2
  FROM codes JOIN dt ON dt.m = codes.m AND dt.cid = codes.cid
  WHERE codes.vec_id <> dt.q_id
  GROUP BY dt.q_id, codes.vec_id
)
SELECT q_id, n_id, approx_d2 FROM adc
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY approx_d2, n_id) <= {TOP_K}
"""


def _pq_model(spark: SparkSession, sf_dir: str):
    """Memoized (codebook c1, codes) pair — shared by the codes query,
    the ADC query, and the recall invariant test."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        e = _embed_double(spark, sf_dir)
        sub = e.select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {PQ_M - 1}), "
                    f"m -> named_struct('m', m, "
                    f"'sub', slice(v, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})))"
                )
            ).alias("s"),
        ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))
        # eager: four consumers branch off within one action
        sub = sub.localCheckpoint(eager=True)
        c0 = sub.filter(
            (F.col("vec_id") >= PQ_SEED_LO) & (F.col("vec_id") < PQ_SEED_HI)
        ).select("m", (F.col("vec_id") - PQ_SEED_LO).alias("cid"),
                 F.col("sub").alias("c"))

        def assign(codebook: DataFrame) -> DataFrame:
            # codebook packed as ONE row per subspace (m → 16 candidate
            # structs): the argmin is then a narrow JVM projection —
            # transform to (rounded d2, cid) structs, array_sort (field
            # order = the oracle's ORDER BY d2r, cid), take [0] — so
            # assignment costs ZERO shuffle and ZERO fan-out. The old
            # shape (16× candidate join + per-(vec,m) row_number
            # window) shuffled corpus×16 rows per pass; at 100 TB that
            # window exchange IS the bottleneck, this is a map.
            cands = codebook.groupBy("m").agg(
                F.collect_list(F.struct("cid", "c")).alias("cands")
            )
            best = F.array_sort(
                F.transform(
                    F.col("cands"),
                    lambda s: F.struct(
                        F.round(_l2sq(F.col("sub"), s["c"]), 6).alias("d2r"),
                        s["cid"].alias("cid"),
                    ),
                )
            )[0]
            return (
                sub.join(F.broadcast(cands), "m")
                .withColumn("cid", best["cid"])
                .drop("cands")
            )

        a0 = assign(c0).select("vec_id", "m", "cid", "sub")
        cd = (
            a0.select("m", "cid", F.posexplode("sub").alias("i0", "x"))
            .select("m", "cid", (F.col("i0") + 1).alias("i"), "x")
            .groupBy("m", "cid", "i")
            .agg(F.round(F.avg("x"), 5).alias("val"))
        )
        c1 = cd.groupBy("m", "cid").agg(
            F.expr(
                "transform(array_sort(collect_list(named_struct"
                "('i', i, 'val', val))), s -> s.val)"
            ).alias("c")
        )
        codes = assign(c1).select("vec_id", "m", "cid").localCheckpoint(eager=True)
        return c1, codes, sub

    return memo(spark, "pq_model", sf_dir, build)


@query("pq_codes", oracle=_PQ_CODES_SQL)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code table: each vector compressed to 8 sub-space
    centroid ids (64 bytes → 8 nibble-sized codes). One broadcast join
    per assignment pass (codebook is 128 tiny rows) and a per-(vec, m)
    argmin window whose partitions are exactly 16 rows — nothing in
    the plan grows with corpus size except the narrow scan itself."""
    _c1, codes, _sub = _pq_model(spark, sf_dir)
    return codes.select("vec_id", "m", F.col("cid").alias("code"))


@query("ann_pq_topk", oracle=_PQ_TOPK_SQL)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k: per-query distance tables to the 128
    refined centroids (10×8×16 rows — broadcast), joined to the code
    table on (m, cid) and summed per (query, vector). The corpus-side
    operand is CODES (8 small ints per vector), not raw vectors — the
    memory-bandwidth win that makes PQ the 100 TB scan strategy; at
    cluster scale the codes table partitions by vec_id range and each
    executor scans its shard against the broadcast distance tables.
    Fully oracle-checked (deterministic seeded codebook + one Lloyd
    step — see block comment above)."""
    c1, codes, sub = _pq_model(spark, sf_dir)
    dt = (
        sub.filter(F.col("vec_id") < N_QUERY_VECTORS)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(c1), "m")
        .select("q_id", "m", "cid", _l2sq(F.col("sub"), F.col("c")).alias("d2q"))
    )
    adc = (
        codes.join(F.broadcast(dt), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.round(F.sum("d2q"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_d2"), F.asc("n_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "approx_d2")
    )


# ---- dimension-truncation fidelity audit -----------------------------------

TRUNC_DIM = 16  # Matryoshka-style prefix truncation

_TRUNC_RANK = """
SELECT q_id, n_id FROM (
  SELECT q.q_id, e.vec_id AS n_id,
         row_number() OVER (
           PARTITION BY q.q_id
           ORDER BY round({dot} / greatest({nq} * {ne}, 1e-12), 6) DESC,
                    e.vec_id) AS rn
  FROM q, e WHERE e.vec_id <> q.q_id
) WHERE rn <= {k}
"""

_TRUNC_SQL = f"""
WITH ef AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
e AS (SELECT vec_id, v, list_slice(v, 1, {TRUNC_DIM}) AS vt FROM ef),
q AS (
  SELECT vec_id AS q_id, v AS qv, list_slice(v, 1, {TRUNC_DIM}) AS qvt
  FROM ef WHERE vec_id < {N_QUERY_VECTORS}
),
full_k AS ({_TRUNC_RANK.format(
    dot=_SQL_DOT.format(a="q.qv", b="e.v"),
    nq=_SQL_NORM.format(a="q.qv"), ne=_SQL_NORM.format(a="e.v"),
    k=TOP_K)}),
trunc_k AS ({_TRUNC_RANK.format(
    dot=_SQL_DOT.format(a="q.qvt", b="e.vt"),
    nq=_SQL_NORM.format(a="q.qvt"), ne=_SQL_NORM.format(a="e.vt"),
    k=TOP_K)})
SELECT f.q_id, count(t.n_id) AS n_overlap,
       round(count(t.n_id) * 1.0 / {TOP_K}, 6) AS overlap_frac
FROM full_k f
LEFT JOIN trunc_k t ON t.q_id = f.q_id AND t.n_id = f.n_id
GROUP BY f.q_id
"""


def _topk_ids(e: DataFrame, q: DataFrame, vcol: str, qcol: str) -> DataFrame:
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            dot(F.col(qcol), F.col(vcol))
            / F.greatest(
                norm(F.col(qcol)) * norm(F.col(vcol)), F.lit(1e-12)
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id")
    )


@query("embedding_truncation_fidelity", oracle=_TRUNC_SQL)
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: per query, how much of the
    full-64-dim cosine top-k survives when vectors are truncated to
    their first 16 dims — the measurement that decides whether a
    cheaper prefix index (4× less memory bandwidth) is good enough
    for first-stage retrieval. Two broadcast-scan rankings (full and
    truncated) + a per-query overlap count; nothing beyond the
    brute-force plan shape, and the count aggregate is k-bounded per
    query. At scale the truncated ranking is the one you'd serve from
    a PQ/IVF index — this query is the offline fidelity gate."""
    ef = _embed_double(spark, sf_dir)
    e = ef.select(
        "vec_id", "v", F.slice("v", 1, TRUNC_DIM).alias("vt")
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("vt").alias("qvt"),
    )
    full_k = _topk_ids(e, q, "v", "qv")
    trunc_k = _topk_ids(e, q, "vt", "qvt").withColumnRenamed("n_id", "t_id")
    j = full_k.join(
        trunc_k,
        (full_k.q_id == trunc_k.q_id) & (full_k.n_id == trunc_k.t_id),
        "left",
    ).select(full_k.q_id.alias("qq"), "t_id")
    return j.groupBy(F.col("qq").alias("q_id")).agg(
        F.count("t_id").alias("n_overlap"),
        F.round(F.count("t_id") * 1.0 / TOP_K, 6).alias("overlap_frac"),
    )


# ---- contrastive-training negative selection --------------------------------

HARD_NEG_K = 5
RAND_NEG_K = 5
NEG_SALT = "neg:"

_HARD_NEG_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
      FROM e WHERE vec_id < {N_QUERY_VECTORS}),
pairs AS (
  SELECT q.q_id, e.vec_id AS n_id, e.label AS n_label,
         round({_SQL_DOT.format(a="q.qv", b="e.v")}
               / greatest({_SQL_NORM.format(a="q.qv")}
                          * {_SQL_NORM.format(a="e.v")}, 1e-12), 6) AS cosine
  FROM q, e
  WHERE e.vec_id >= {N_QUERY_VECTORS} AND e.label <> q.q_label
)
SELECT q_id, n_id, n_label, cosine FROM (
  SELECT q_id, n_id, n_label, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
  FROM pairs
) WHERE rn <= {HARD_NEG_K}
"""


@query("hard_negatives_topk", oracle=_HARD_NEG_SQL)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the HARD_NEG_K most-similar pool vectors carrying a DIFFERENT
    label — the highest-loss negatives a contrastive batch wants.

    Same plan as `embedding_cosine_topk` (query set broadcast into one
    linear pool scan, bounded per-query window) with the label
    inequality folded into the join predicate, so mismatched labels
    prune before any cosine is computed. Cosines round to 6 dp before
    ranking (ulp-proof), n_id tie-break.
    """
    e = _embed_double(spark, sf_dir).withColumn("nv", norm(F.col("v"), DIM))
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"),
        F.col("v").alias("qv"), F.col("nv").alias("nq"),
    )
    pairs = (
        e.filter(F.col("vec_id") >= N_QUERY_VECTORS)
        .join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.col("label").alias("n_label"),
            F.round(
                dot(F.col("qv"), F.col("v"), DIM)
                / F.greatest(F.col("nq") * F.col("nv"), F.lit(1e-12)),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HARD_NEG_K)
        .select("q_id", "n_id", "n_label", "cosine")
    )


def _rand_neg_sql() -> str:
    from data_pipeline_playground_spark.functions.text import sql_rolling_hash

    key = (f"'{NEG_SALT}' || CAST(q.q_id AS VARCHAR) || ':' "
           f"|| CAST(e.vec_id AS VARCHAR)")
    return f"""
WITH e AS (SELECT vec_id, label FROM embeddings),
q AS (SELECT vec_id AS q_id, label AS q_label
      FROM e WHERE vec_id < {N_QUERY_VECTORS}),
cand AS (
  SELECT q.q_id, e.vec_id AS n_id, e.label AS n_label,
         {sql_rolling_hash(key)} AS hk
  FROM q, e
  WHERE e.vec_id >= {N_QUERY_VECTORS} AND e.label <> q.q_label
)
SELECT q_id, n_id, n_label FROM (
  SELECT q_id, n_id, n_label,
         row_number() OVER (PARTITION BY q_id ORDER BY hk, n_id) AS rn
  FROM cand
) WHERE rn <= {RAND_NEG_K}
"""


@query("contrastive_negatives", oracle=_rand_neg_sql())
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform (easy) negative sampling for contrastive training: per
    query, RAND_NEG_K different-label pool vectors drawn by salted-hash
    order — a deterministic, engine-portable uniform draw (never RNG,
    same discipline as sample_stratified), reproducible across runs
    and partitionings.

    The per-anchor hash ranking is a bounded window over the broadcast
    join; at 100 TB the equivalent plan samples by hash threshold
    first (hk % M < m ≈ K·M/|pool|) and tops up, so the window sees a
    sliver of the pool rather than all of it.
    """
    from data_pipeline_playground_spark.functions.text import rolling_hash

    e = _embed_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"),
    )
    cand = (
        e.filter(F.col("vec_id") >= N_QUERY_VECTORS)
        .join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.col("label").alias("n_label"),
            rolling_hash(
                F.concat(
                    F.lit(NEG_SALT),
                    F.col("q_id").cast("string"),
                    F.lit(":"),
                    F.col("vec_id").cast("string"),
                )
            ).alias("hk"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("hk"), F.asc("n_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RAND_NEG_K)
        .select("q_id", "n_id", "n_label")
    )


# --- per-dimension feature panel: normalization + int8 quantization audit ----
#
# Round-12 consolidation (VERDICT r11 #5): `embedding_dim_stats`
# (normalization audit — mean/std/min/max per dim) and
# `embedding_int8_audit` (quantization audit — scale/MSE/max-err/code
# usage per dim) were two registry entries sharing the same exploded
# scan and the same dim-grain output frame; merged into ONE panel that
# explodes twice (the int8 half always needed a second pass to apply
# the per-dim ranges) instead of three times across two queries. The
# int8 half's `n_components` column is dropped: it was definitionally
# identical to `n_vectors` (both count components per dim). Every
# other metric of both queries rides unchanged under the shared
# oracle.

# Snap scale for the per-dimension sums: components are sub-1 floats
# (widened float32 shortest-repr ≤ 9 significant digits), so a 7-dp
# decimal snap rounds identically in both engines; squares carry scale
# 14, keeping sum-of-squares scaled integers < 2^63 up to ~3.7e4
# vectors per unit of squared magnitude — documented headroom, not a
# silent cap (at larger SFs widen to DECIMAL(20,14) on both sides).
_DIM_SNAP = "decimal(12,7)"

_DIM_AUDIT_SQL = """
WITH c AS (
  SELECT u.dim AS dim, u.xd AS xd, CAST(u.xd AS DECIMAL(12,7)) AS xs FROM (
    SELECT unnest(list_transform(embedding, (x, i) -> {
             'dim': CAST(i - 1 AS BIGINT),
             'xd': CAST(x AS DOUBLE)})) AS u
    FROM embeddings)
),
d AS (
  SELECT dim, count(*) AS n,
         sum(xs) AS s,
         sum(CAST(xs * xs AS DECIMAL(25,14))) AS sq,
         min(xs) AS mns, max(xs) AS mxs,
         min(xd) AS mn, max(xd) AS mx
  FROM c GROUP BY dim
),
q AS (
  SELECT c.dim AS dim, xd, mn, mx,
         CASE WHEN mx = mn THEN 0
              ELSE CAST(least(255.0, greatest(0.0,
                     floor((xd - mn) / (mx - mn) * 255.0 + 0.5))) AS BIGINT)
         END AS code
  FROM c JOIN d ON c.dim = d.dim
),
e AS (
  SELECT dim, code,
         xd - (CASE WHEN mx = mn THEN mn
                    ELSE mn + code * (mx - mn) / 255.0 END) AS err,
         (mx - mn) / 255.0 AS scale
  FROM q
),
i8 AS (
  SELECT dim,
         any_value(scale) AS scale,
         CAST(SUM(CAST(err * err AS DECIMAL(18,15))) AS DOUBLE) / count(*)
           AS mse,
         max(abs(err)) AS max_abs_err,
         count(DISTINCT code) AS n_codes
  FROM e
  GROUP BY dim
)
SELECT d.dim AS dim,
       n AS n_vectors,
       CAST(s AS DOUBLE) / n AS mean_v,
       sqrt(greatest(CAST(sq AS DOUBLE) / n
                     - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                     0.0)) AS std_v,
       CAST(mns AS DOUBLE) AS min_v,
       CAST(mxs AS DOUBLE) AS max_v,
       i8.scale AS scale, i8.mse AS mse,
       i8.max_abs_err AS max_abs_err, i8.n_codes AS n_codes
FROM d JOIN i8 ON i8.dim = d.dim
"""


@query("embedding_dim_audit", oracle=_DIM_AUDIT_SQL)
def embedding_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature panel over the embedding column — the
    normalization audit (mean/std/min/max: z-scaling constants,
    dead-dim and range-drift detection) and the int8 affine-
    quantization audit (scale, reconstruction MSE, max absolute error,
    distinct-code usage — the design gate for a 4×-smaller int8 vector
    index) in one dim-grain result.

    Exactness (both halves unchanged from their standalone forms):
    components snap once to DECIMAL(12,7) so sums/sums-of-squares are
    exact order-free decimals, mean/variance combine in one shared
    double tree ending in a correctly-rounded sqrt; the
    quantize/dequantize chain is the SAME double expression tree in
    both engines (floor(x·255+0.5), never round(), so tie semantics
    can't diverge) and squared errors snap to DECIMAL(18,15) before
    the one closing double division.

    Shape: two passes over the embeddings scan — pass 1 is the
    combinable dim-key moment/range aggregate (dim-cardinality
    output), broadcast back into pass 2's exploded stream for the
    error aggregate (again map-side combinable on dim); the closing
    dim-grain join of the two panels is broadcast-tiny. No fact-sized
    shuffle at any scale; the distinct-code count re-shuffles only
    (dim, code) pairs (≤ dims × 256 rows after partial dedup).
    """
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "xd")
    ).select(
        F.col("pos").cast("long").alias("dim"),
        "xd",
        F.col("xd").cast(_DIM_SNAP).alias("xs"),
    )
    dims = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xs").alias("s"),
        F.sum((F.col("xs") * F.col("xs")).cast("decimal(25,14)")).alias("sq"),
        F.min("xs").alias("mns"),
        F.max("xs").alias("mxs"),
        F.min("xd").alias("mn"),
        F.max("xd").alias("mx"),
    )
    j = ex.select("dim", "xd").join(
        F.broadcast(dims.select("dim", "mn", "mx")), "dim"
    )
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.lit(255.0),
            F.greatest(
                F.lit(0.0),
                F.floor(
                    (F.col("xd") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(255.0)
                    + F.lit(0.5)
                ).cast("double"),
            ),
        ).cast("bigint")
    )
    xhat = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / F.lit(255.0)
    )
    e = (
        j.withColumn("code", code)
        .withColumn("err", F.col("xd") - xhat)
        .withColumn("scale", (F.col("mx") - F.col("mn")) / F.lit(255.0))
    )
    i8 = e.groupBy("dim").agg(
        F.any_value(F.col("scale")).alias("scale"),
        (
            F.sum((F.col("err") * F.col("err")).cast("decimal(18,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mse"),
        F.max(F.abs(F.col("err"))).alias("max_abs_err"),
        F.count_distinct(F.col("code")).alias("n_codes"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("sq").cast("double") / F.col("n") - mean * mean
    return dims.join(F.broadcast(i8), "dim").select(
        "dim",
        F.col("n").alias("n_vectors"),
        mean.alias("mean_v"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_v"),
        F.col("mns").cast("double").alias("min_v"),
        F.col("mxs").cast("double").alias("max_v"),
        "scale",
        "mse",
        "max_abs_err",
        "n_codes",
    )


# --- top principal component via unrolled power iteration -------------------

PC_D = 8  # leading Matryoshka block (see embedding_truncation_fidelity)
PC_ITERS = 5
_PC_EPS = "1e-300"  # division guard; parses to the same double everywhere


def _pc_sql(elem, src: str, final: str = "union") -> str:
    """Generate the ENTIRE power-iteration query for either dialect.

    ``elem(a)`` renders 1-based access to embedding component a
    (DuckDB ``embedding[a]``, Spark ``element_at(embedding, a)`` —
    Spark's ``[]`` is 0-based); everything else — decimal moment
    sums, covariance pivot, unrolled iterations, Rayleigh quotient —
    is textually IDENTICAL in both engines, which is what makes the
    result bit-exact: same literals, same operators, same
    associativity, evaluated by two SQL engines over the same doubles.

    Emitting SQL text (rather than composing PySpark Columns) also
    matters operationally: building the ~3000-node expression through
    the Column API cost ~9 s of Py4J round-trips per invocation;
    one spark.sql() call parses it in milliseconds.
    """
    dims = range(1, PC_D + 1)

    def dec(a):
        return f"CAST(CAST({elem(a)} AS DOUBLE) AS DECIMAL(12,6))"

    t = ", ".join(
        f"CAST(SUM({dec(a)}) AS DOUBLE) AS t{a}" for a in dims
    )
    sm = ", ".join(
        f"CAST(SUM(CAST({dec(a)} * {dec(b)} AS DECIMAL(26,12))) "
        f"AS DOUBLE) AS s{a}_{b}"
        for a in dims for b in range(a, PC_D + 1)
    )
    c = ", ".join(
        f"n * s{min(a, b)}_{max(a, b)} - t{a} * t{b} AS c{a}_{b}"
        for a in dims for b in dims
    )
    parts = [
        f"s AS (SELECT CAST(count(*) AS DOUBLE) AS n, {t}, {sm} FROM {src})",
        f"c AS (SELECT {c} FROM s)",
    ]
    prev = "c"
    v = {a: "CAST(1 AS DOUBLE)" for a in dims}
    ccols = ", ".join(f"c{a}_{b}" for a in dims for b in dims)
    for it in range(1, PC_ITERS + 1):
        w = {
            a: " + ".join(f"c{a}_{b} * ({v[b]})" for b in dims) for a in dims
        }
        wcols = ", ".join(f"{w[a]} AS w{a}" for a in dims)
        parts.append(f"w{it} AS (SELECT *, {wcols} FROM {prev})")
        m = ", ".join(f"ABS(w{a})" for a in dims)
        vcols = ", ".join(
            f"w{a} / GREATEST({m}, CAST({_PC_EPS} AS DOUBLE)) AS v{a}"
            for a in dims
        )
        parts.append(f"i{it} AS (SELECT {ccols}, {vcols} FROM w{it})")
        prev = f"i{it}"
        v = {a: f"v{a}" for a in dims}
    w = {a: " + ".join(f"c{a}_{b} * v{b}" for b in dims) for a in dims}
    num = " + ".join(f"v{a} * ({w[a]})" for a in dims)
    den = " + ".join(f"v{a} * v{a}" for a in dims)
    parts.append(f"f AS (SELECT *, ({num}) / ({den}) AS ray FROM {prev})")
    if final == "union":
        tail = " UNION ALL ".join(
            f"SELECT CAST({a} AS BIGINT) AS dim, v{a} AS loading, "
            "ray AS rayleigh FROM f"
            for a in dims
        )
    else:
        # Spark: UNION ALL branches each re-execute the CTE pipeline
        # (8 FileScans of the fact table); inline() explodes an array
        # of structs from ONE scan instead. Values are identical.
        structs = ", ".join(
            f"struct(CAST({a} AS BIGINT) AS dim, v{a} AS loading, "
            "ray AS rayleigh)"
            for a in dims
        )
        tail = f"SELECT inline(array({structs})) FROM f"
    return "WITH " + ", ".join(parts) + " " + tail


_TOP_PC_SQL = _pc_sql(lambda a: f"embedding[{a}]", "embeddings")


@query("embedding_top_pc", oracle=_TOP_PC_SQL)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the leading 8-dim Matryoshka
    block of the embedding table, by PC_ITERS unrolled power
    iterations on the pivoted covariance matrix — the spectral health
    check behind 'is one direction eating the embedding space'
    (anisotropy; Mu & Viswanath 2018 'All-but-the-Top'). Output: the
    max-normalized loading per dimension plus the Rayleigh quotient
    (top eigenvalue of the unnormalized scatter).

    Determinism end to end: inputs snap to DECIMAL(12,6); scatter
    moments are exact decimal sums (summands ≤ DECIMAL(26,12), both
    engines widen exactly; scaled values stay < 2^63 through ~1e8
    rows — beyond that, shard the sums); covariance n·Σxy − ΣxΣy and
    every iteration are ONE shared expression TEXT (see _pc_sql) with
    left-associated 8-term matvecs and max-norm (no sqrt), so both
    engines produce bit-identical doubles. The whole iteration runs
    on a ONE-ROW frame — the only data-sized work is the single-pass
    45-column moment aggregate (partial-combinable map-side).
    """
    table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "_embeddings_pc"
    )
    return spark.sql(
        _pc_sql(
            lambda a: f"element_at(embedding, {a})",
            "_embeddings_pc",
            final="inline",
        )
    )


# --- triplet-margin embedding audit -----------------------------------------

TRIPLET_MARGIN = "0.05"  # shared literal, parses to the same double
TRIPLET_ANCHOR_MOD = 5  # anchors: vec_id % MOD == 0

_TRIPLET_SQL = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v, label FROM embeddings),
nl AS (SELECT CAST(max(label) + 1 AS INT) AS n_labels FROM e),
anchors AS (
  SELECT vec_id AS a_id, v AS av, label
  FROM e WHERE vec_id % {TRIPLET_ANCHOR_MOD} = 0
),
pos AS (
  SELECT a.a_id,
         coalesce(min(CASE WHEN s.vec_id > a.a_id THEN s.vec_id END),
                  min(s.vec_id)) AS p_id
  FROM anchors a JOIN e s
    ON s.label = a.label AND s.vec_id <> a.a_id
  GROUP BY a.a_id
),
negl AS (
  SELECT label AS neg_label, min(vec_id) AS n_id FROM e GROUP BY label
),
tri AS (
  SELECT a.a_id, p.p_id, ng.n_id, a.av
  FROM anchors a
  JOIN pos p ON p.a_id = a.a_id
  CROSS JOIN nl
  JOIN negl ng ON ng.neg_label = (a.label + 1) % nl.n_labels
),
sc AS (
  SELECT t.a_id, t.p_id, t.n_id,
         round({_SQL_DOT.format(a="t.av", b="pe.v")}
               / greatest({_SQL_NORM.format(a="t.av")}
                          * {_SQL_NORM.format(a="pe.v")}, 1e-12), 6)
           AS cos_pos,
         round({_SQL_DOT.format(a="t.av", b="ne.v")}
               / greatest({_SQL_NORM.format(a="t.av")}
                          * {_SQL_NORM.format(a="ne.v")}, 1e-12), 6)
           AS cos_neg
  FROM tri t
  JOIN e pe ON pe.vec_id = t.p_id
  JOIN e ne ON ne.vec_id = t.n_id
)
SELECT a_id, p_id, n_id, cos_pos, cos_neg,
       cos_pos < cos_neg + CAST({TRIPLET_MARGIN} AS DOUBLE) AS violated
FROM sc
"""


@query("triplet_margin_audit", oracle=_TRIPLET_SQL)
def triplet_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin health check of the embedding space (the metric-
    learning acceptance test, Schroff et al. 2015 FaceNet): for each
    anchor (every {MOD}th vector), a deterministic positive (next
    same-label id, wrap-around) and a deterministic probe negative
    (the adjacent label class's min id); flag violations
    cos(a,p) < cos(a,n) + margin.

    Parity: cosines use the repo's sequential-fold dot/norm (bit-
    identical in DuckDB's list_reduce), rounded at 6 dp like the rest
    of the similarity family; margin and the violation boolean are a
    shared double comparison.

    Scale: positives come from a label-equi join (fan-out bounded by
    label-group size — salt labels if a class dominates); negatives
    join a |labels|-row broadcast, NOT a per-anchor sweep; the two
    vector fetches are equi-joins on vec_id.
    """
    e = _embed_double(spark, sf_dir)
    nl = e.agg((F.max("label") + 1).cast("int").alias("n_labels"))
    anchors = e.where(F.col("vec_id") % TRIPLET_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"), "label"
    )
    s = e.select(F.col("vec_id").alias("s_id"), F.col("label").alias("s_label"))
    pos = (
        anchors.join(
            s,
            (F.col("s_label") == F.col("label"))
            & (F.col("s_id") != F.col("a_id")),
        )
        .groupBy("a_id")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("s_id") > F.col("a_id"), F.col("s_id"))),
                F.min("s_id"),
            ).alias("p_id")
        )
    )
    negl = e.groupBy(F.col("label").alias("neg_label")).agg(
        F.min("vec_id").alias("n_id")
    )
    tri = (
        anchors.join(pos, "a_id")
        .crossJoin(F.broadcast(nl))
        .join(
            F.broadcast(negl),
            F.col("neg_label")
            == (F.col("label") + 1) % F.col("n_labels"),
        )
        .select("a_id", "p_id", "n_id", "av")
    )
    pe = e.select(F.col("vec_id").alias("p_id"), F.col("v").alias("pv"))
    ne = e.select(F.col("vec_id").alias("n_id"), F.col("v").alias("nv"))
    guard = F.lit(1e-12)
    sc = (
        tri.join(pe, "p_id")
        .join(ne, "n_id")
        .select(
            "a_id",
            "p_id",
            "n_id",
            F.round(
                dot(F.col("av"), F.col("pv"))
                / F.greatest(norm(F.col("av")) * norm(F.col("pv")), guard),
                6,
            ).alias("cos_pos"),
            F.round(
                dot(F.col("av"), F.col("nv"))
                / F.greatest(norm(F.col("av")) * norm(F.col("nv")), guard),
                6,
            ).alias("cos_neg"),
        )
    )
    margin = F.expr(f"CAST({TRIPLET_MARGIN} AS DOUBLE)")
    return sc.select(
        "a_id",
        "p_id",
        "n_id",
        "cos_pos",
        "cos_neg",
        (F.col("cos_pos") < F.col("cos_neg") + margin).alias("violated"),
    )


# --- mutual nearest neighbors -------------------------------------------------

_MUTUAL_NN_SQL = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
b AS (SELECT vec_id, label, v, {_SQL_BUCKET} AS bucket FROM e),
t1 AS (
  SELECT a.vec_id AS q, c.vec_id AS n, a.label AS q_label,
         round({_SQL_DOT.format(a="a.v", b="c.v")}
               / greatest({_SQL_NORM.format(a="a.v")}
                          * {_SQL_NORM.format(a="c.v")}, 1e-12), 6) AS cosine
  FROM b a JOIN b c ON c.bucket = a.bucket AND c.vec_id <> a.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY a.vec_id
    ORDER BY round({_SQL_DOT.format(a="a.v", b="c.v")}
               / greatest({_SQL_NORM.format(a="a.v")}
                          * {_SQL_NORM.format(a="c.v")}, 1e-12), 6) DESC,
             c.vec_id) = 1
)
SELECT x.q AS vec_a, x.n AS vec_b, x.cosine,
       x.q_label = y.q_label AS same_label
FROM t1 x JOIN t1 y ON y.q = x.n AND y.n = x.q
WHERE x.q < x.n
"""


@query("mutual_nn_pairs", oracle=_MUTUAL_NN_SQL)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-local mutual nearest-neighbor pairs: (a, b) where b is
    a's nearest same-LSH-bucket neighbor AND a is b's — the
    high-precision near-duplicate / bitext-alignment signal (a
    standard filter in parallel-corpus mining), flagged with whether
    the pair crosses labels (a crossing mutual-NN is either a mislabel
    or a leak).

    Candidates come from the SAME 2^planes-bucket hyperplane
    signature as `ann_lsh_topk` — an equi-join on the bucket id, so
    pair count is Σ bucket² instead of n² (the brute-force variant
    measured 26-105 s at sf0.1 on 4M pairs: both the aggregate() fold
    and a 64-term unrolled expression run slow — the fold is
    interpreted, and the unrolled form exceeds the JVM JIT's
    huge-method bytecode limit and drops to the bytecode interpreter;
    candidate pruning, not expression tuning, is the correct lever,
    exactly as at 100 TB). Σ bucket² ∝ n²/2^planes with the plane
    count FIXED — the round-12 second-decade probe measured exponent
    1.66 at 1M vectors under the then-default fixed 8 planes; the
    dial is now SELF-SETTING from the corpus row count
    (planes_for_count), so this query's bucket grain coarsens only
    logarithmically with n. The mutual check is a self-join on the
    n-row top-1 table; vectors alone in their bucket have no neighbor
    and drop out, the documented LSH trade.
    """
    e = (
        _embed_double(spark, sf_dir)
        .withColumn("bucket", _bucket_col(lsh_planes(spark, sf_dir)))
        .withColumn("nv", norm(F.col("v"), DIM))
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
        F.col("bucket").alias("c_bucket"),
    )
    pairs = e.join(
        c,
        (F.col("c_bucket") == F.col("bucket")) & (F.col("c_id") != F.col("vec_id")),
    ).select(
        "vec_id",
        "label",
        F.col("c_id").alias("n_id"),
        F.round(
            dot(F.col("v"), F.col("cv"), DIM)
            / F.greatest(F.col("nv") * F.col("nc"), F.lit(1e-12)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    t1 = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("q"),
            F.col("n_id").alias("n"),
            "cosine",
            F.col("label").alias("q_label"),
        )
    )
    y = t1.select(
        F.col("q").alias("yq"), F.col("n").alias("yn"),
        F.col("q_label").alias("y_label"),
    )
    return (
        t1.join(y, (F.col("yq") == F.col("n")) & (F.col("yn") == F.col("q")))
        .filter(F.col("q") < F.col("n"))
        .select(
            F.col("q").alias("vec_a"),
            F.col("n").alias("vec_b"),
            "cosine",
            (F.col("q_label") == F.col("y_label")).alias("same_label"),
        )
    )
