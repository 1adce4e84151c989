"""Dedup query-surface entries (SURVEY §2.3 D1 + §2.12 extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_playground_spark.operators.dedup import (
    FUZZ_THRESHOLD,
    TITLE_PREFIX_LEN,
    fuzzy_dedup_greedy_survivors,
    fuzzy_dedup_survivors,
)
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

_DEDUP_EXACT_SQL = """
SELECT md5(text) AS digest, min(doc_id) AS doc_id
FROM documents
GROUP BY md5(text)
"""


@query("dedup_exact", oracle=_DEDUP_EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: min doc_id per md5(text) digest."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("digest", F.md5("text"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
    )


_DEDUP_FUZZY_SQL = f"""
WITH t AS (
  SELECT doc_id AS i, substring(text, 1, {TITLE_PREFIX_LEN}) AS title
  FROM documents
)
SELECT a.i AS doc_id
FROM t a
WHERE NOT EXISTS (
  SELECT 1 FROM t b
  WHERE b.i < a.i
    AND 100.0 * (length(a.title) + length(b.title)
                 - levenshtein(a.title, b.title))
        / greatest(length(a.title) + length(b.title), 1) > {FUZZ_THRESHOLD}
)
"""


@query("dedup_fuzzy", oracle=_DEDUP_FUZZY_SQL)
def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy title dedup (reference pipeline.py:22-42): survivor ids.

    Survivors are reused by entry(), news_pipeline, and this query —
    memoized per (session, sf_dir) so the similarity join runs once.
    """
    from data_pipeline_playground_spark.caching import memo

    def build():
        # pinned eagerly: the banded-join cost stays in the visible
        # memo_build:dedup_fuzzy_survivors line item instead of landing
        # on whichever query first reads the survivors
        return fuzzy_dedup_survivors(
            table(spark, sf_dir, "documents"), text_col="text", id_col="doc_id"
        ).localCheckpoint(eager=True)

    return memo(spark, "dedup_fuzzy_survivors", sf_dir, build)


def _fuzzy_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-verified MinHash-candidate title pairs (hi, lo) over
    `documents`, built once per (session, sf_dir) — round 14: the
    identical pair set was being rebuilt by dedup_fuzzy_minhash
    (~1.3 s at sf0.1), dedup_fuzzy_greedy, AND news_pipeline's dedup
    stage; in a long-lived session the near-dup pair list is a shared
    artifact like the MinHash signatures themselves. Eagerly
    checkpointed (blocks freed on GC, ADVICE r5 #3) and booked to
    memo_build:fuzzy_title_pairs by the bench."""
    from data_pipeline_playground_spark.caching import memo
    from data_pipeline_playground_spark.operators.dedup import (
        fuzzy_similar_pairs_minhash,
    )

    def build() -> DataFrame:
        return fuzzy_similar_pairs_minhash(
            table(spark, sf_dir, "documents"), text_col="text",
            id_col="doc_id",
        ).localCheckpoint(eager=True)

    return memo(spark, "fuzzy_title_pairs", sf_dir, build)


@query("dedup_fuzzy_minhash", oracle=_DEDUP_FUZZY_SQL)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy title dedup with MinHash-LSH candidate generation (the
    100 TB substitute for dedup_fuzzy's banded self-join — SURVEY
    §2.12 / VERDICT r2 #6): LSH proposes pairs, exact banded
    Levenshtein verifies them. Same oracle as dedup_fuzzy — precision
    is exact by construction; the oracle run certifies that LSH recall
    is 1 on this corpus (missed candidates would leave extra
    survivors and fail the row compare). On adversarial corpora
    (ratio>80 pairs with low shingle Jaccard) recall may drop below 1;
    operators/dedup.py documents the crossover.

    TRIAGE (ADVICE r5 #4): if this oracle ever mismatches after an SF
    or corpus change, suspect LSH RECALL first, not an implementation
    bug — diff fuzzy_similar_pairs_minhash against the oracle's exact
    pair predicate before touching the dedup logic."""
    docs = table(spark, sf_dir, "documents")
    pairs = _fuzzy_pairs_memo(spark, sf_dir)
    # hi > lo by construction, so hi is the later (non-surviving) row —
    # identical anti-join shape to operators/dedup.py's
    # _fuzzy_survivors_minhash_candidates, fed by the shared pair memo
    matched = pairs.select(F.col("hi").alias("_dup")).distinct()
    ids = docs.select(F.col("doc_id").alias("_i"))
    return ids.join(
        matched, ids["_i"] == matched["_dup"], "left_anti"
    ).select(F.col("_i").alias("doc_id"))


# Greedy-chain fixpoint oracle: the reference's arrival-order dedup
# (pipeline.py:22-42 — keep a title iff not similar to any previously
# KEPT title) as a DuckDB recursive CTE. `pairs` is the exact similar-
# pairs set; `chain` walks the kept sequence: the next kept doc is the
# smallest id above the last kept one that has no similar pair into
# the accumulated kept LIST — exactly the greedy fixpoint, natively
# recursive, so the distributed component-parallel implementation is
# checked against an independent sequential formulation. MATERIALIZED
# is load-bearing: without it DuckDB re-evaluates the n² Levenshtein
# pairs CTE on every recursion iteration (~500 × 125k lev calls).
_DEDUP_GREEDY_SQL = f"""
WITH RECURSIVE t AS MATERIALIZED (
  SELECT doc_id AS i, substring(text, 1, {TITLE_PREFIX_LEN}) AS title
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT a.i AS hi, b.i AS lo
  FROM t a JOIN t b ON b.i < a.i
  WHERE 100.0 * (length(a.title) + length(b.title)
                 - levenshtein(a.title, b.title))
        / greatest(length(a.title) + length(b.title), 1) > {FUZZ_THRESHOLD}
),
chain AS (
  SELECT (SELECT min(i) FROM t) AS last_id,
         [(SELECT min(i) FROM t)] AS kept
  UNION ALL
  SELECT nxt.i, list_append(chain.kept, nxt.i)
  FROM chain
  JOIN LATERAL (
    SELECT min(tt.i) AS i FROM t tt
    WHERE tt.i > chain.last_id
      AND NOT EXISTS (
        SELECT 1 FROM pairs p
        WHERE p.hi = tt.i AND list_contains(chain.kept, p.lo))
  ) nxt ON nxt.i IS NOT NULL
)
SELECT last_id AS doc_id FROM chain
"""


@query("dedup_fuzzy_greedy", oracle=_DEDUP_GREEDY_SQL)
def dedup_fuzzy_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's EXACT greedy-chain dedup semantics
    (pipeline.py:22-42): arrival-order scan where each doc survives
    iff it is not similar to any previously KEPT doc — the one
    documented semantic deviation of the pairwise tiers, closed.
    Differs from dedup_fuzzy exactly on intransitive chains (A~B~C,
    A≁C: pairwise keeps {{A}}, greedy keeps {{A, C}}).

    Distributed shape (operators/dedup.py): LSH-candidate pairs with
    exact verify → connected components → per-component sequential
    greedy chain in applyInPandas (kept-status never crosses a
    component boundary, so the inherently-sequential section is
    bounded by component size — dozens of docs — at any corpus
    scale); edge-free docs bypass Python entirely. Oracle: recursive
    kept-chain fixpoint (see _DEDUP_GREEDY_SQL) over the exact
    all-pairs predicate, which also certifies LSH recall on this
    corpus.

    TRIAGE (ADVICE r5 #4): the Spark side derives pairs from LSH
    candidates while the oracle walks exact n² pairs, so the value
    check holds only while LSH recall is 1. On a future mismatch
    after an SF/corpus change, triage as a RECALL property first
    (diff the candidate pair set against the oracle's exact pairs);
    the greedy-chain machinery itself is fixed by construction."""
    docs = table(spark, sf_dir, "documents")
    return fuzzy_dedup_greedy_survivors(
        docs, text_col="text", id_col="doc_id",
        pairs=_fuzzy_pairs_memo(spark, sf_dir),
    )


@query(
    "dedup_exact_count",
    oracle="SELECT count(DISTINCT md5(text)) AS n_unique, count(*) AS n_total FROM documents",
)
def dedup_exact_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-vs-total document counts (dup-rate summary)."""
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.count(F.lit(1)).alias("n_total"),
    )
