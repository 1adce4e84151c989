"""MinHash-LSH building blocks (SURVEY §2.12 minhash_dedup; the 100 TB
replacement for the reference's O(n²) greedy fuzzy dedup, D1).

Pipeline: word-3-gram shingles → K portable min-hashes → band buckets →
candidate pairs (equi-join on band key — shuffle ∝ candidates, not n²)
→ signature-similarity estimate → keep-min-id survivors.

All hashing is the engine-portable polynomial rolling hash (see
functions.text.rolling_hash), so the DuckDB oracle reproduces bit-equal
signatures — no reliance on Spark-internal murmur3 or ml.MinHashLSH
(whose hash seeds the oracle could not mirror).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import (
    ROLL_MOD,
    rolling_hash,
    tokenize,
)
from data_pipeline_playground_spark.session import spread_scan

SHINGLE_N = 3  # word 3-gram shingles
NUM_HASHES = 16  # K signature components
BAND_ROWS = 4  # r rows per band → 4 bands
SIM_THRESHOLD = 0.5  # signature-estimate Jaccard cutoff

# Deterministic (a, b) hash params — fixed seed, inlined into oracle SQL.
_rng = random.Random(42)
HASH_PARAMS: list[tuple[int, int, int]] = [
    (i, _rng.randrange(1, ROLL_MOD), _rng.randrange(0, ROLL_MOD))
    for i in range(NUM_HASHES)
]


def shingle_hashes(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """doc_id × distinct shingle → portable int64 hash.

    Shingle strings are built array-native (word_ngrams: sequence +
    transform + element_at, all whole-stage codegen, no shuffle — the
    old posexplode+lead() form paid a per-doc window sort); the hash
    stays the oracle-portable polynomial fold (the one part DuckDB must
    mirror).
    """
    from data_pipeline_playground_spark.functions.text import word_ngrams

    # the tokenize→ngram→hash projection is the CPU-heavy part of the
    # whole pipeline and is narrow
    return spread_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(tokenize(F.col(text_col)), SHINGLE_N)).alias("sh"),
    ).select("doc_id", rolling_hash(F.col("sh")).alias("h"))


def signatures(spark: SparkSession, hashes: DataFrame) -> DataFrame:
    """K min-hash components per doc, WIDE: one row per doc with
    columns v0..v{K-1} = min((a_i*h + b_i) mod P) over the doc's
    shingle hashes.

    All K permutations are column expressions over the same row — no
    K-way row fan-out, no param-table join; the single (doc_id) shuffle
    carries K partial mins with map-side combine. (``spark`` is kept in
    the signature for callers that pass it; the params are inlined.)
    """
    return hashes.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % ROLL_MOD).alias(f"v{i}")
            for i, a, b in HASH_PARAMS
        ]
    )


def band_keys(sig: DataFrame) -> DataFrame:
    """LSH band key per (doc, band): '-'-joined r signature values in
    component order — built from the wide signature row with one
    explode, no aggregation."""
    n_bands = NUM_HASHES // BAND_ROWS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"v{i}").cast("string")
                        for i in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
                    ],
                ).alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (i > j) doc pairs sharing at least one band bucket."""
    left = bands.select(
        F.col("doc_id").alias("ci"), F.col("band").alias("band_l"), F.col("bkey").alias("bkey_l")
    )
    right = bands.select(
        F.col("doc_id").alias("cj"), F.col("band").alias("band_r"), F.col("bkey").alias("bkey_r")
    )
    return (
        left.join(
            right,
            (F.col("band_l") == F.col("band_r"))
            & (F.col("bkey_l") == F.col("bkey_r"))
            & (F.col("cj") < F.col("ci")),
        )
        .select("ci", "cj")
        .distinct()
    )


def estimated_similarity(cand: DataFrame, sig: DataFrame) -> DataFrame:
    """Signature-estimate Jaccard per candidate pair: fraction of equal
    components — two equi-joins against the wide signature rows, then
    one row-local expression; no per-component explode, no aggregation."""
    sa = sig.select(
        F.col("doc_id").alias("ci"),
        *[F.col(f"v{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("cj"),
        *[F.col(f"v{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    return (
        cand.join(sa, "ci")
        .join(sb, "cj")
        .select("ci", "cj", (matches / F.lit(float(NUM_HASHES))).alias("sim"))
    )
