"""Deduplication operator family (reference D1 — the signature operator,
appearing at pipeline.py:22-42, realtimeapi.py:143-156,
reddit_api.py:117-130 — generalized to the LLM-data-pipeline tiers:
exact, fuzzy-Levenshtein, MinHash, SimHash, n-gram Jaccard).

Semantics (all tiers): **keep the earliest representative per similar
pair** — row ``i`` survives iff no row ``j < i`` is similar to it. This
is the order-insensitive pairwise spec SURVEY §2.3 chose over the
reference's greedy, order-dependent chain (which is not transitive and
not reproducible under parallelism).

Scale notes (100 TB design point):
- exact: hash-shuffle on the digest — embarrassingly parallel.
- fuzzy: the quadratic self-join is bounded by a *semantics-preserving*
  length-band blocking predicate (ratio > t implies the lengths are
  within a provable band), so Catalyst executes a band-join instead of a
  full cross product; at extreme scale prefer the MinHash tier.
- minhash/simhash/jaccard: candidate generation via LSH band buckets /
  hamming blocks — shuffle is proportional to candidate pairs, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_playground_spark.session import spread_scan

# Fuzzy-dedup knobs: compare on a fixed-width prefix of the document
# text (the "title" analogue — reference dedups on thread titles,
# pipeline.py:26-29) with similarity threshold 80 (pipeline.py:29).
# 60 chars: produces the identical survivor set to an 80-char prefix on
# the test corpus at ~56% of the O(L²) Levenshtein cost; 40 is too
# short (spurious ratio>80 collisions between unrelated docs).
TITLE_PREFIX_LEN = 60
FUZZ_THRESHOLD = 80.0


def exact_dedup(df: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the min-id row per identical ``key`` value.

    100 TB: one hash shuffle on md5(key); no comparisons beyond equality.
    """
    return (
        df.withColumn("_digest", F.md5(F.col(key)))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .drop("_digest")
    )


def fuzzy_dedup_survivors(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          candidates: str = "band") -> DataFrame:
    """Fuzzy near-dup removal (reference D1): survivor ids.

    Row i survives iff no j < i with fuzz_ratio(title_i, title_j) >
    FUZZ_THRESHOLD, where title = substring(text, 1, TITLE_PREFIX_LEN).

    ``candidates`` picks the candidate-pair generator:

    - ``"band"`` (default, exact): length-band pruned self-join. The
      band is *implied* by the threshold (ratio > 80 ⇒ lev < (la+lb)/5
      and lev ≥ |la−lb| ⇒ 2/3·la < lb < 3/2·la), so it prunes pairs
      without changing results — but the comparison count within a band
      is still O(n²): this is the small-corpus / per-group path.
    - ``"minhash"`` (scale path): LSH band buckets over title shingles
      generate candidates (shuffle ∝ candidates, not n²), each verified
      with the same exact banded Levenshtein predicate — so precision
      is exact and only recall depends on LSH. Recall is NOT provably 1
      (a ratio>80 pair sharing no band bucket is missed and both rows
      survive); tests/test_dedup.py measures the survivor-set agreement
      at test scale. At 100 TB this is the designated substitute — the
      crossover is wherever a length-band exceeds executor memory.
    """
    if candidates == "minhash":
        return _fuzzy_survivors_minhash_candidates(df, text_col, id_col)
    titles = df.select(
        F.col(id_col).alias("_i"),
        F.substring(F.col(text_col), 1, TITLE_PREFIX_LEN).alias("_title"),
        F.length(F.substring(F.col(text_col), 1, TITLE_PREFIX_LEN)).alias("_len"),
    )
    # the nested-loop anti-join parallelizes over LEFT partitions
    left = spread_scan(titles)
    right = titles.select(
        F.col("_i").alias("_j"), F.col("_title").alias("_title_r"),
        F.col("_len").alias("_len_r"),
    )
    total = left["_len"] + right["_len_r"]
    # Thresholded levenshtein: ratio > 80 requires lev < total/5 and
    # total ≤ 2·TITLE_PREFIX_LEN, so any qualifying pair has
    # lev ≤ max_lev. The 3-arg form runs a banded DP (O(L·k) not O(L²),
    # returning -1 beyond the band) — ~2× on this join, same matches.
    max_lev = (2 * TITLE_PREFIX_LEN) // 5 - 1
    lev = F.levenshtein(left["_title"], right["_title_r"], max_lev)
    cond = (
        (right["_j"] < left["_i"])
        # semantics-preserving length band (see docstring)
        & (right["_len_r"] * 3 > left["_len"] * 2)
        & (right["_len_r"] * 2 < left["_len"] * 3)
        & (lev >= 0)
        & (F.lit(100.0) * (total - lev) / F.greatest(total, F.lit(1)) > F.lit(FUZZ_THRESHOLD))
    )
    # Two-phase plan: a parallel INNER nested-loop join to find matched
    # ids, then a hash anti-join on the id. A direct LeftAnti BNLJ gets
    # its repartition hoisted above the join by Catalyst and runs on a
    # single scan partition — serial O(n²).
    matched = left.join(right, cond).select(left["_i"].alias("_dup")).distinct()
    return titles.join(
        matched, titles["_i"] == matched["_dup"], "left_anti"
    ).select(F.col("_i").alias(id_col))


def fuzzy_similar_pairs_minhash(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id") -> DataFrame:
    """Exact-verified similar pairs ``(hi, lo)`` with ``hi > lo``:
    MinHash-LSH band buckets propose candidates (shuffle ∝ candidates,
    not n²), the exact banded-Levenshtein threshold predicate verifies
    each — so every emitted pair truly has fuzz_ratio > FUZZ_THRESHOLD
    (precision exact); recall carries the LSH caveat documented on
    fuzzy_dedup_survivors. Shared candidate generator for the
    pairwise-survivor and greedy-chain tiers."""
    from data_pipeline_playground_spark.operators.minhash import (
        band_keys,
        candidate_pairs,
        shingle_hashes,
        signatures,
    )

    titles = df.select(
        F.col(id_col).alias("_i"),
        F.substring(F.col(text_col), 1, TITLE_PREFIX_LEN).alias("_title"),
        F.length(F.substring(F.col(text_col), 1, TITLE_PREFIX_LEN)).alias("_len"),
    )
    hashes = shingle_hashes(titles, text_col="_title", id_col="_i")
    # eagerly materialized: the band self-join would otherwise re-run
    # the shingle+hash fold (and race a lazy cache within one action).
    # localCheckpoint, not cache+count: checkpoint blocks are released
    # by the ContextCleaner when the frame goes out of scope, so
    # repeated calls in one session don't accumulate cached blocks
    # until an external clearCache (ADVICE r5 #3).
    sig = signatures(df.sparkSession, hashes).localCheckpoint(eager=True)
    cand = candidate_pairs(band_keys(sig))  # (ci > cj) distinct pairs
    a = titles.select(F.col("_i").alias("ci"), F.col("_title").alias("_ta"),
                      F.col("_len").alias("_la"))
    b = titles.select(F.col("_i").alias("cj"), F.col("_title").alias("_tb"),
                      F.col("_len").alias("_lb"))
    total = F.col("_la") + F.col("_lb")
    max_lev = (2 * TITLE_PREFIX_LEN) // 5 - 1
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"), max_lev)
    verified = (
        cand.join(a, "ci")
        .join(b, "cj")
        .filter(
            (lev >= 0)
            & (F.lit(100.0) * (total - lev) / F.greatest(total, F.lit(1))
               > F.lit(FUZZ_THRESHOLD))
        )
    )
    return verified.select(F.col("ci").alias("hi"), F.col("cj").alias("lo"))


def _fuzzy_survivors_minhash_candidates(df: DataFrame, text_col: str,
                                        id_col: str) -> DataFrame:
    """MinHash-candidate variant of fuzzy_dedup_survivors: LSH buckets
    propose pairs, exact banded Levenshtein verifies them (same
    threshold predicate as the band path, so precision is identical;
    see fuzzy_dedup_survivors for the recall caveat)."""
    pairs = fuzzy_similar_pairs_minhash(df, text_col, id_col)
    # hi > lo by construction, so hi is the later (non-surviving) row
    matched = pairs.select(F.col("hi").alias("_dup")).distinct()
    ids = df.select(F.col(id_col).alias("_i"))
    return ids.join(
        matched, ids["_i"] == matched["_dup"], "left_anti"
    ).select(F.col("_i").alias(id_col))


def fuzzy_dedup_greedy_survivors(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 pairs: DataFrame | None = None) -> DataFrame:
    """GREEDY-CHAIN fuzzy dedup — the reference's exact arrival-order
    semantics (pipeline.py:22-42: each title is kept iff it is not
    similar to any previously KEPT title), which differs from the
    pairwise spec exactly on intransitive chains: if A~B and B~C but
    not A~C, pairwise keeps only A while the greedy chain keeps A and
    C (B is suppressed by A, so C is compared against A alone).

    Kept-status of a row depends only on its similarity-graph
    neighbors, so the global sequential chain decomposes exactly into
    independent chains per CONNECTED COMPONENT of the similar-pairs
    graph (induction: every dependency edge stays inside the
    component). Distributed shape: verified pairs (LSH candidates +
    exact predicate) → min-label connected components → ONE
    applyInPandas greedy pass per component (components of near-dup
    graphs are tiny — dozens of rows — so the sequential section is
    bounded no matter the corpus size); edge-free docs survive by
    definition and bypass the Python stage entirely via an anti-join.
    """
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    if pairs is None:
        # consumed by components (iterative) + edge grouping; eager
        # localCheckpoint instead of cache+count so the blocks are freed
        # on GC rather than accumulating until clearCache (ADVICE r5 #3).
        # Caller-provided pairs (the fuzzy_title_pairs memo) arrive
        # already materialized — re-checkpointing would copy the blocks.
        pairs = fuzzy_similar_pairs_minhash(
            df, text_col, id_col
        ).localCheckpoint(eager=True)
    nodes = (
        pairs.select(F.col("hi").alias("n"))
        .union(pairs.select(F.col("lo").alias("n")))
        .distinct()
    )
    comp = connected_components(
        nodes, pairs, id_col="n", src_col="hi", dst_col="lo"
    )
    edges = pairs.join(
        comp.select(F.col("n").alias("hi"), F.col("component_id").alias("comp")),
        "hi",
    )

    def chain(pdf):
        import pandas as pd

        adj: dict[int, set[int]] = {}
        members: set[int] = set()
        for hi, lo in zip(pdf["hi"], pdf["lo"]):
            adj.setdefault(int(hi), set()).add(int(lo))
            members.add(int(hi))
            members.add(int(lo))
        kept: list[int] = []
        kept_set: set[int] = set()
        for i in sorted(members):
            if not (adj.get(i, set()) & kept_set):
                kept.append(i)
                kept_set.add(i)
        return pd.DataFrame({id_col: kept})

    comp_kept = edges.groupBy("comp").applyInPandas(
        chain, schema=f"{id_col} bigint"
    )
    singles = df.select(F.col(id_col)).join(
        nodes, df[id_col] == nodes["n"], "left_anti"
    )
    return singles.unionByName(comp_kept)
